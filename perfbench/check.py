"""Expected answers from DuckDB and the comparison of engine output to them.

Rows are normalised the way dev/check_oracle.py normalises them: doubles to
9 significant digits, column names and rows sorted.  The comparison is on
values only, so integers are compared as doubles too (the engine and DuckDB
type some integer columns differently).
"""
import math
import os
import re

import duckdb
import numpy as np


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, str) and v == "nan":
        return "nan"
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        v = float(v)
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return str([norm_cell(x) for x in v])
    return v if isinstance(v, str) else str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{data_dir}/duckdb_tmp'")
    # Spark's ROUND on a double rounds its shortest decimal form half-up;
    # DuckDB's round works on the binary value, so the two differ when a
    # value sits exactly on a decimal tie (t_analysis quality_score hits one
    # on some corpora).  Expected answers use Spark's definition.
    con.execute("CREATE MACRO spark_round(x, s) AS "
                "CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 18)), s) AS DOUBLE)")
    for t in tables:
        path = f"{data_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_rounding(sql):
    """Rewrites every round(x[, s]) call of `sql` to spark_round(x, s)."""
    out, i = [], 0
    for m in re.finditer(r"\bround\(", sql, flags=re.IGNORECASE):
        if m.start() < i:
            continue
        depth, j, comma, quoted = 1, m.end(), None, False
        while depth:
            c = sql[j]
            if c == "'":
                quoted = not quoted
            elif not quoted:
                depth += (c == "(") - (c == ")")
                if c == "," and depth == 1:
                    comma = j
            j += 1
        args = [sql[m.end():comma], sql[comma + 1:j - 1]] if comma else [sql[m.end():j - 1], "0"]
        out += [sql[i:m.start()], "spark_round(", spark_rounding(args[0]), ",", args[1], ")"]
        i = j
    return "".join(out) + sql[i:]


def expected(con, sql):
    rel = con.sql(spark_rounding(sql))
    return norm_rows(list(rel.columns), rel.fetchall())


def compare(exp, cols, rows):
    """None when the engine's output matches, else a one-line reason."""
    ecols, erows = exp
    scols, srows = norm_rows(cols, rows)
    if ecols != scols:
        return f"columns {scols} vs expected {ecols}"
    if len(erows) != len(srows):
        return f"{len(srows)} rows vs expected {len(erows)}"
    if erows != srows:
        diff = next((a, b) for a, b in zip(srows, erows) if a != b)
        return f"first differing row {diff[0]} vs expected {diff[1]}"
    return None


# ------------------------------------------------- LSH operators' exact twins

def shingles(text, w=3):
    """Word w-shingles of the normalised text, as Dedup.shingles defines them."""
    words = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" \t\n\x0b\f\r")).lower().split(" ")
    return {" ".join(words[i:i + w]) for i in range(max(len(words) - w, 0) + 1)}


def jaccard(a, b):
    return round(len(a & b) / len(a | b), 6)


def check_minhash(pairs, texts, planted, threshold, min_recall):
    """Minhash near-duplicates against exact shingle Jaccard.

    Every reported pair must reach the threshold with its exact Jaccard
    reported.  The banded index may miss pairs, so recall over the planted
    near-duplicate pairs that reach the threshold is bounded below.
    """
    sh = {}

    def sets(i):
        if i not in sh:
            sh[i] = shingles(texts[i])
        return sh[i]
    got = {(int(a), int(b)): round(j, 6) for a, b, j in pairs}
    wrong = [(p, j) for p, j in got.items() if j < threshold or jaccard(sets(p[0]), sets(p[1])) != j]
    if wrong:
        return f"{len(wrong)} reported pairs have another exact Jaccard, e.g. {wrong[0]}", None
    true = [p for p in planted if jaccard(sets(p[0]), sets(p[1])) >= threshold]
    recall = sum(p in got for p in true) / max(1, len(true))
    if recall < min_recall:
        return f"recall {recall:.4f} over {len(true)} planted pairs, below {min_recall}", recall
    return None, recall


def check_simhash(pairs, sigs, max_hamming, max_bucket):
    """Simhash near-duplicates against an exhaustive replay of its contract:
    a pair is reported iff it shares some 16-bit band value whose bucket holds
    at most `max_bucket` docs, and its Hamming distance is within bound."""
    ids = np.array([int(i) for i, _ in sigs], dtype=np.int64)
    sig = np.array([int(s) & (2**64 - 1) for _, s in sigs], dtype=np.uint64)
    want = {}
    for c in range(4):
        key = (sig >> np.uint64(16 * c)) & np.uint64(0xFFFF)
        order = np.argsort(key, kind="stable")
        k = key[order]
        bounds = np.flatnonzero(np.diff(k)) + 1
        for grp in np.split(order, bounds):
            if len(grp) < 2 or len(grp) > max_bucket:
                continue
            a, b = np.triu_indices(len(grp), 1)
            ia, ib = ids[grp[a]], ids[grp[b]]
            x = sig[grp[a]] ^ sig[grp[b]]
            ham = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            keep = ham <= max_hamming
            for p, q, h in zip(np.minimum(ia, ib)[keep], np.maximum(ia, ib)[keep], ham[keep]):
                want[(int(p), int(q))] = int(h)
    got = {(int(a), int(b)): int(h) for a, b, h in pairs}
    if got != want:
        missing = sorted(set(want) - set(got))[:1]
        extra = sorted(set(got) - set(want))[:1]
        return f"{len(got)} pairs vs {len(want)} expected; missing {missing} extra {extra}"
    return None
