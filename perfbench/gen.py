"""Seeded input generator for the graft benchmark.

Everything a run feeds the engine comes from here and from the seed alone:
the TPC-H-shaped star schema, the curation corpus, the dashboard query list
and the semantic-modeling script.  Every generated query carries the DuckDB
SQL that computes its expected answer (its "twin"); the fixed dashboard
cells instead name the `SparkEntry.oracleSql` entry that checks them.
"""
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REV = "l_extendedprice * (1 - l_discount)"

# --------------------------------------------------------------- tables

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(df, path, files=1):
    """Write a frame as parquet; several files make a directory of parts."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def write_tpch(out, sf, seed):
    """Star schema at scale factor `sf` (sf 0.1 = 150k orders, 600k lineitem).

    Prices and discounts are continuous, not cent-rounded: a SUM of cent
    amounts lands exactly on a ROUND(…, 2) tie about once in a hundred
    groups, and there the last bit of the sum, which depends on summation
    order, decides the rounded answer.
    """
    rng = np.random.default_rng(seed)
    n_ord, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp, n_li = int(200_000 * sf), int(10_000 * sf), int(6_000_000 * sf)
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
           f"{out}/nation.parquet")
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}), f"{out}/supplier.parquet")
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(["large ring", "hot bolt", "blue ring", "cold pipe", "small nut"], n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail}), f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": rng.uniform(1000, 450000, n_ord),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * retail[partkey] * rng.uniform(0.95, 1.05, n_li),
        "l_discount": rng.uniform(0, 0.1, n_li),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 2557)}), f"{out}/lineitem.parquet")


# --------------------------------------------------------------- corpus

VOCAB = ("a the batch part spark line column order small sort fast value scan "
         "stream hash table row merge query key group data customer filter "
         "window join vector slow agg big").split()
EXTRA = ["Spark", "SQL,", "v2", "(beta)", "data.", "42", "Join!", "k-means"]
LANGS = ["en", "en", "de", "fr", "es", "zh"]


def _base_doc(rng):
    n = int(rng.integers(8, 110))
    words = [VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), n)]
    for _ in range(int(rng.integers(0, 3))):
        words[int(rng.integers(0, n))] = EXTRA[int(rng.integers(0, len(EXTRA)))]
    return words


def write_corpus(out, base_docs, copies, n_emb, seed):
    """Documents in GenScaled's `bounded` near-duplicate shape plus embeddings.

    Copy 0 is the base corpus.  Every 10th base doc seeds one family per block
    of 10 copies (copies 1-4 of the block are suffix near-duplicates of it);
    every other copy splices a (doc, copy)-unique marker after every 4th word,
    which breaks about 3/4 of its 3-word shingles, so it is a near-duplicate of
    nothing.  Returns the planted near-duplicate pairs and the texts by doc id.
    """
    rng = np.random.default_rng(seed + 1)
    base = [_base_doc(rng) for _ in range(base_docs)]
    langs = [LANGS[int(i)] for i in rng.integers(0, len(LANGS), base_docs)]
    ids, texts, lang, src = [], [], [], []
    families = {}
    for c in range(copies):
        for d, words in enumerate(base):
            doc_id = c * base_docs + d
            if c == 0:
                text = " ".join(words)
            elif d % 10 == 0 and 1 <= c % 10 <= 4:
                if c < 10:
                    text = " ".join(words) + f" copytag{c}"
                else:
                    text = " ".join(w + f" b{c // 10}f{d}" if j % 4 == 3 else w
                                    for j, w in enumerate(words)) + f" copytag{c}"
                families.setdefault((c // 10, d), []).append(doc_id)
            else:
                text = " ".join(w + f" u{d}x{c}" if j % 4 == 3 else w
                                for j, w in enumerate(words))
            ids.append(doc_id)
            texts.append(text)
            lang.append(langs[d])
            src.append(f"src{d % 10}")
    for d in range(0, base_docs, 10):
        families.setdefault((0, d), []).append(d)
    planted = sorted((a, b) for fam in families.values()
                     for i, a in enumerate(sorted(fam)) for b in sorted(fam)[i + 1:])
    _write(pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts,
                         "lang": lang, "source": src,
                         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
           f"{out}/documents.parquet", files=8)
    centers = rng.normal(0, 0.2, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    _write(pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(vecs),
                         "label": labels.astype(np.int32)}),
           f"{out}/embeddings.parquet", files=4)
    return planted, texts


# --------------------------------------------------------------- dashboard

# Measure views of the dashboard session: the same definitions
# SparkEntry.engineFor declares, so the named cells' oracle SQL applies.
DASHBOARD_VIEWS = [
    """CREATE VIEW li_v AS
SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE revenue,
  SUM(l_quantity) AS MEASURE qty,
  COUNT(*) AS MEASURE cnt,
  AVG(l_extendedprice) AS MEASURE avg_price,
  COUNT(DISTINCT l_partkey) AS MEASURE parts,
  MEDIAN(l_quantity) AS MEASURE med_qty,
  SUM(l_extendedprice * l_tax) AS MEASURE tax_amt,
  revenue - tax_amt AS MEASURE net_rev,
  STDDEV(l_quantity) AS MEASURE sd_qty,
  MIN(l_extendedprice) AS MEASURE min_price,
  MAX(l_extendedprice) AS MEASURE max_price,
  SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS MEASURE disc_price,
  SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END) AS MEASURE big_qty,
  MODE(l_linenumber) AS MEASURE mode_line,
  array_join(array_sort(array_distinct(collect_list(l_linestatus))), ',') AS MEASURE statuses
FROM lineitem""",
    """CREATE VIEW ord_v AS
SELECT year(o_orderdate) AS yr, o_orderpriority, o_orderstatus,
  SUM(o_totalprice) AS MEASURE total_price,
  COUNT(*) AS MEASURE order_cnt,
  AVG(o_totalprice) AS MEASURE avg_order
FROM orders""",
    """CREATE VIEW li_y AS
SELECT year(l_shipdate) AS yr, l_returnflag,
  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE li_rev
FROM lineitem""",
    """CREATE VIEW li_raw AS
SELECT l_shipdate, l_returnflag, l_quantity,
  SUM(l_extendedprice * (1 - l_discount)) AS MEASURE raw_rev
FROM lineitem""",
]

# Fixed dashboard cells: the texts of the SparkEntry.queries entries of the
# same name, checked against SparkEntry.oracleSql(name).
DASHBOARD_CELLS = {
    "m_agg_basic": "SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v ORDER BY l_returnflag",
    "m_agg_twodim": "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(qty), 2) AS qty, AGGREGATE(cnt) AS cnt "
                    "FROM li_v ORDER BY l_returnflag, l_linestatus",
    "m_at_all_pct": "SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue, "
                    "ROUND(100.0 * AGGREGATE(revenue) / AGGREGATE(revenue) AT (ALL), 4) AS pct "
                    "FROM li_v ORDER BY l_returnflag",
    "m_at_all_dim": "SELECT ship_year, l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue, "
                    "ROUND(AGGREGATE(revenue) AT (ALL l_returnflag), 2) AS year_total "
                    "FROM li_v ORDER BY ship_year, l_returnflag",
    "m_at_set_yoy": "SELECT ship_year, ROUND(AGGREGATE(revenue), 2) AS revenue, "
                    "ROUND(AGGREGATE(revenue) AT (SET ship_year = ship_year - 1), 2) AS prior_year "
                    "FROM li_v ORDER BY ship_year",
    "m_at_where": "SELECT ship_year, ROUND(AGGREGATE(revenue) AT (WHERE l_returnflag = 'R'), 2) AS r_rev "
                  "FROM li_v ORDER BY ship_year",
    "m_visible": "SELECT l_returnflag, ROUND(AGGREGATE(revenue) AT (VISIBLE), 2) AS revenue "
                 "FROM li_v WHERE l_linestatus = 'F' GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_chained_all": "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(qty) AT (ALL l_returnflag) AT (ALL l_linestatus), 2) AS total_qty "
                     "FROM li_v ORDER BY l_returnflag, l_linestatus",
    "m_countdistinct": "SELECT l_returnflag, AGGREGATE(parts) AS parts FROM li_v ORDER BY l_returnflag",
    "m_median": "SELECT l_returnflag, ROUND(AGGREGATE(med_qty), 2) AS med_qty FROM li_v ORDER BY l_returnflag",
    "m_rollup": "SELECT l_returnflag, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v "
                "GROUP BY ROLLUP(l_returnflag) ORDER BY l_returnflag NULLS FIRST",
    "m_groupingsets": "SELECT l_returnflag, l_linestatus, ROUND(AGGREGATE(revenue), 2) AS revenue FROM li_v "
                      "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) "
                      "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "m_multifact": "SELECT o.yr, ROUND(AGGREGATE(total_price), 2) AS total_price, ROUND(AGGREGATE(li_rev), 2) AS li_rev "
                   "FROM ord_v o JOIN li_y l ON o.yr = l.yr ORDER BY o.yr",
    "m_current": "SELECT l_returnflag, ROUND(AGGREGATE(revenue) AT (ALL l_returnflag SET ship_year = CURRENT ship_year - 1), 2) AS prior_rev "
                 "FROM li_v WHERE ship_year = 1999 GROUP BY l_returnflag ORDER BY l_returnflag",
    "m_derived_at": "SELECT l_returnflag, ROUND(AGGREGATE(net_rev), 2) AS net_rev, ROUND(AGGREGATE(net_rev) AT (ALL), 2) AS total_net "
                    "FROM li_v ORDER BY l_returnflag",
    "m_curly": "SELECT l_returnflag, ROUND({revenue}, 2) AS revenue, ROUND({revenue} / {cnt}, 4) AS rev_per_item "
               "FROM li_v ORDER BY l_returnflag",
    "m_at_all_expr": "SELECT year(l_shipdate) AS yr, ROUND(AGGREGATE(raw_rev), 2) AS revenue, "
                     "ROUND(AGGREGATE(raw_rev) AT (ALL year(l_shipdate)), 2) AS total "
                     "FROM li_raw GROUP BY year(l_shipdate) ORDER BY yr",
    "q_tpch1": f"""SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
ROUND(SUM(l_extendedprice), 2) AS sum_base_price, ROUND(SUM({REV}), 2) AS sum_disc_price,
ROUND(SUM({REV} * (1 + l_tax)), 2) AS sum_charge, ROUND(AVG(l_quantity), 4) AS avg_qty,
ROUND(AVG(l_extendedprice), 4) AS avg_price, ROUND(AVG(l_discount), 6) AS avg_disc,
COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_join_agg": """SELECT n.n_name, ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY revenue DESC, n.n_name""",
    "q_window_fn": """SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
  FROM orders) t
WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
}

LI_MEASURES = {"revenue": f"SUM({REV})", "qty": "SUM(l_quantity)", "cnt": "COUNT(*)",
               "tax_amt": "SUM(l_extendedprice * l_tax)"}


def dashboard(seed):
    """The seeded dashboard: the fixed cells plus four parameterised tiles,
    in a seeded order.  Returns a list of {name, text, oracle | twin}."""
    rng = random.Random(seed)
    qs = [{"name": n, "text": t, "oracle": n} for n, t in DASHBOARD_CELLS.items()]
    y = rng.randint(1996, 2000)
    qs.append({"name": "tile_year_qty",
               "text": f"SELECT l_returnflag, ROUND(AGGREGATE(qty), 2) AS qty FROM li_v "
                       f"WHERE ship_year >= {y} ORDER BY l_returnflag",
               "twin": f"SELECT l_returnflag, round(SUM(l_quantity), 2) AS qty FROM lineitem "
                       f"WHERE year(l_shipdate) >= {y} GROUP BY l_returnflag ORDER BY l_returnflag"})
    y = rng.randint(1995, 2001)
    qs.append({"name": "tile_orders_year",
               "text": "SELECT o_orderpriority, AGGREGATE(order_cnt) AS order_cnt, "
                       "ROUND(AGGREGATE(avg_order), 2) AS avg_order FROM ord_v "
                       f"WHERE yr = {y} GROUP BY o_orderpriority ORDER BY o_orderpriority",
               "twin": "SELECT o_orderpriority, COUNT(*) AS order_cnt, round(AVG(o_totalprice), 2) AS avg_order "
                       f"FROM orders WHERE year(o_orderdate) = {y} GROUP BY o_orderpriority ORDER BY o_orderpriority"})
    f = rng.choice(["A", "N", "R"])
    qs.append({"name": "tile_flag_rev",
               "text": f"SELECT ship_year, ROUND(AGGREGATE(revenue) AT (WHERE l_returnflag = '{f}'), 2) AS f_rev "
                       "FROM li_v ORDER BY ship_year",
               "twin": f"SELECT year(l_shipdate) AS ship_year, (SELECT round(SUM({REV}), 2) FROM lineitem "
                       f"WHERE l_returnflag = '{f}') AS f_rev FROM lineitem GROUP BY year(l_shipdate) ORDER BY ship_year"})
    m = rng.choice(sorted(LI_MEASURES))
    agg = LI_MEASURES[m]
    qs.append({"name": "tile_status_share",
               "text": f"SELECT ship_year, l_linestatus, ROUND(AGGREGATE({m}), 2) AS v, "
                       f"ROUND(AGGREGATE({m}) AT (ALL l_linestatus), 2) AS yr_v "
                       "FROM li_v GROUP BY ship_year, l_linestatus ORDER BY ship_year, l_linestatus",
               "twin": f"SELECT g.ship_year, g.l_linestatus, round(g.v, 2) AS v, round(t.v, 2) AS yr_v FROM "
                       f"(SELECT year(l_shipdate) AS ship_year, l_linestatus, {agg} AS v FROM lineitem GROUP BY ALL) g "
                       f"JOIN (SELECT year(l_shipdate) AS ship_year, {agg} AS v FROM lineitem GROUP BY ALL) t "
                       "ON g.ship_year = t.ship_year ORDER BY 1, 2"})
    rng.shuffle(qs)
    return qs


# --------------------------------------------------------------- modeling

DIMS = {"l_returnflag": "l_returnflag", "l_linestatus": "l_linestatus",
        "ship_year": "year(l_shipdate)", "l_linenumber": "l_linenumber"}
DECOMPOSABLE = [f"SUM({REV})", "SUM(l_quantity)", "SUM(l_extendedprice * l_tax)", "COUNT(*)",
                "MIN(l_extendedprice)", "MAX(l_extendedprice)", "AVG(l_quantity)", "AVG(l_discount)",
                "SUM(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END)",
                "SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05)"]
NON_DECOMPOSABLE = ["COUNT(DISTINCT l_partkey)", "COUNT(DISTINCT l_suppkey)",
                    "MEDIAN(l_quantity)", "MEDIAN(l_extendedprice)"]
# divisors that are non-zero in every non-empty context
POSITIVE = ["COUNT(*)", "SUM(l_quantity)"]

# The script's shape cycles through fixed patterns and the seed only picks
# columns, aggregates and constants inside them, so every seed times the same
# mix of view sizes, block kinds and query shapes.
VIEW_SIZES = [3, 8, 16, 5, 12]
BLOCKS = ["replace", "replace", "drop", "replace", "ctas", "replace"]
QUERY_SHAPES = ["plain", "at_all", "at_dim", "plain2", "at_set", "where"]
MEASURE_KINDS = ["dec", "non", "der"]


def _view(rng, name, size, temp=False):
    """A measure view of `size` measures (at least one of each kind) over two
    or three dims, ship_year always among them; returns (DDL, definition)."""
    dims = ["ship_year"] + rng.sample([d for d in sorted(DIMS) if d != "ship_year"], rng.randint(1, 2))
    n_der = max(1, size // 4)
    n_non = max(1, (size - n_der) // 4)
    base = {"m_n": rng.choice(POSITIVE)}
    kinds = {"m_n": "dec"}
    for i in range(size - n_der - 1):
        k = "non" if i < n_non else "dec"
        base[f"m{i}"] = rng.choice(NON_DECOMPOSABLE if k == "non" else DECOMPOSABLE)
        kinds[f"m{i}"] = k
    measures = dict(base)
    names = sorted(base)
    for i in range(n_der):
        a, b = rng.sample(names, 2)
        if i % 2 == 0:
            measures[f"d{i}"] = (f"{a} - {b}", f"({base[a]}) - ({base[b]})")
        else:
            measures[f"d{i}"] = (f"{a} / m_n", f"({base[a]}) / ({base['m_n']})")
        kinds[f"d{i}"] = "der"
    sel = [f"{DIMS[d]} AS {d}" if DIMS[d] != d else d for d in dims]
    for m, e in measures.items():
        sel.append(f"{e[0] if isinstance(e, tuple) else e} AS MEASURE {m}")
    kind = "TEMP VIEW" if temp else "OR REPLACE VIEW"
    ddl = f"CREATE {kind} {name} AS SELECT {', '.join(sel)} FROM lineitem"
    exprs = {m: (e[1] if isinstance(e, tuple) else e) for m, e in measures.items()}
    return ddl, {"dims": dims, "measures": exprs, "kinds": kinds}


def _query(rng, name, view, shape, kind):
    """One measure query of `shape` on `view`, led by a measure of `kind`,
    and its DuckDB twin."""
    first = rng.choice([m for m, k in view["kinds"].items() if k == kind])
    rest = [m for m in sorted(view["measures"]) if m != first]
    ms = [first] + rng.sample(rest, 1 if shape == "plain2" else 0)
    others = [d for d in view["dims"] if d != "ship_year"]
    group = {"at_dim": ["ship_year", rng.choice(others)], "at_set": ["ship_year"],
             "plain2": [rng.choice(others), "ship_year"]}.get(shape, [rng.choice(view["dims"])])
    cols = [f"ROUND(AGGREGATE({m}), 4) AS {m}" for m in ms]
    twin_cols = [f"round(g.{m}, 4) AS {m}" for m in ms]
    at_agg = view["measures"][first]
    where = where_twin = joins = ""
    if shape == "at_all":
        cols.append(f"ROUND(AGGREGATE({first}) AT (ALL), 4) AS all_{first}")
        joins = f" CROSS JOIN (SELECT {at_agg} AS v FROM lineitem) t"
        twin_cols.append(f"round(t.v, 4) AS all_{first}")
    elif shape == "at_dim":
        cols.append(f"ROUND(AGGREGATE({first}) AT (ALL {group[1]}), 4) AS rest_{first}")
        joins = (f" JOIN (SELECT year(l_shipdate) AS ship_year, {at_agg} AS v FROM lineitem GROUP BY ALL) t "
                 "ON t.ship_year = g.ship_year")
        twin_cols.append(f"round(t.v, 4) AS rest_{first}")
    elif shape == "at_set":
        cols.append(f"ROUND(AGGREGATE({first}) AT (SET ship_year = ship_year - 1), 4) AS prev_{first}")
        joins = (f" LEFT JOIN (SELECT year(l_shipdate) AS ship_year, {at_agg} AS v FROM lineitem GROUP BY ALL) t "
                 "ON t.ship_year = g.ship_year - 1")
        twin_cols.append(f"round(t.v, 4) AS prev_{first}")
    elif shape == "where":
        d = rng.choice(view["dims"])
        v = {"l_returnflag": "'R'", "l_linestatus": "'F'", "ship_year": str(rng.randint(1996, 2001)),
             "l_linenumber": str(rng.randint(1, 7))}[d]
        where, where_twin = f" WHERE {d} = {v}", f" WHERE {DIMS[d]} = {v}"
    gl = ", ".join(group)
    text = f"SELECT {gl}, {', '.join(cols)} FROM {name}{where} GROUP BY {gl} ORDER BY {gl}"
    gsel = ", ".join(f"{DIMS[d]} AS {d}" for d in group)
    aggs = ", ".join(f"{view['measures'][m]} AS {m}" for m in ms)
    gq = f"SELECT {gsel}, {aggs} FROM lineitem{where_twin} GROUP BY ALL"
    gcols = ", ".join("g." + d for d in group)
    twin = f"SELECT {gcols}, {', '.join(twin_cols)} FROM ({gq}) g{joins} ORDER BY {gcols}"
    return text, twin


def modeling_script(seed, blocks, slots=4):
    """Setup DDL and a seeded script of `blocks` blocks.

    Each block changes one measure view and then runs 3-4 measure queries
    against it.  A block is a CREATE OR REPLACE VIEW, a DROP VIEW followed by
    a re-create, or a TEMP-view batch consumed by CTAS whose table is then
    read back.
    """
    rng = random.Random(seed * 7919 + 1)
    views, setup = {}, []
    for s in range(slots):
        ddl, v = _view(rng, f"mv_{s}", VIEW_SIZES[s % len(VIEW_SIZES)])
        setup.append(ddl)
        views[f"mv_{s}"] = v
    ops, q = [], 0
    for k in range(blocks):
        name = f"mv_{k % slots}"
        size = VIEW_SIZES[k % len(VIEW_SIZES)]
        block = BLOCKS[k % len(BLOCKS)]
        if block == "ctas":
            ddl, tv = _view(rng, f"tv_{k}", size, temp=True)
            d = rng.choice(tv["dims"])
            m = rng.choice(sorted(tv["measures"]))
            ops.append({"block": k, "kind": "ddl", "text":
                        f"DROP TABLE IF EXISTS ctas_t;\n{ddl};\n"
                        f"CREATE TABLE ctas_t AS SELECT {d}, ROUND(AGGREGATE({m}), 4) AS v FROM tv_{k} GROUP BY {d}"})
            ops.append({"block": k, "kind": "query", "text": f"SELECT {d}, v FROM ctas_t ORDER BY {d}",
                        "twin": f"SELECT {DIMS[d]} AS {d}, round({tv['measures'][m]}, 4) AS v FROM lineitem "
                                f"GROUP BY ALL ORDER BY 1"})
        else:
            if block == "drop":
                ops.append({"block": k, "kind": "ddl", "text": f"DROP VIEW {name}"})
            ddl, views[name] = _view(rng, name, size)
            ops.append({"block": k, "kind": "ddl", "text": ddl})
        for _ in range(3 + k % 2):
            shape = QUERY_SHAPES[q % len(QUERY_SHAPES)]
            kind = MEASURE_KINDS[q % len(MEASURE_KINDS)]
            q += 1
            text, twin = _query(rng, name, views[name], shape, kind)
            ops.append({"block": k, "kind": "query", "text": text, "twin": twin})
    return setup, ops
