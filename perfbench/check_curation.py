"""DuckDB recomputation of the curation steps that are plain SQL.

The JVM run records each step's row count and aggregates from its first
pass in curation_facts.json; this recomputes them from the same generated
parquet inputs with an engine that shares no code with graft.
"""
import json
import os

WORDS = ("list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),"
         " ' '), w -> w <> '')")


def expected(con, inputs):
    docs = f"read_parquet('{inputs}/documents.parquet/*.parquet')"
    events = f"read_parquet('{inputs}/events.parquet/*.parquet')"
    exact = con.execute(
        f"SELECT count(*), sum(mid), sum(n) FROM (SELECT min(doc_id) mid, count(*) n "
        f"FROM {docs} GROUP BY md5(text))").fetchone()
    # chunkDocuments: chunks of 50 words with stride 40, empty docs skipped
    chunks = con.execute(
        f"WITH w AS (SELECT len({WORDS}) n FROM {docs}), "
        f"c AS (SELECT n, unnest(range(CAST(floor(greatest(n - 11, 0) / 40) AS BIGINT) + 1)) i "
        f"FROM w WHERE n > 0) SELECT count(*), sum(least(50, n - 40 * i)) FROM c").fetchone()
    ks = con.execute(
        f"WITH v AS (SELECT n_chars v, sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) a, "
        f"sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) b FROM {docs} "
        f"WHERE source IN ('src0', 'src1') GROUP BY n_chars), "
        f"t AS (SELECT sum(a) na, sum(b) nb FROM v), "
        f"c AS (SELECT sum(a) OVER (ORDER BY v) ca, sum(b) OVER (ORDER BY v) cb FROM v) "
        f"SELECT na, nb, max(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) "
        f"FROM c, t GROUP BY na, nb").fetchone()
    gini = con.execute(
        f"WITH k AS (SELECT user_id k, count(*) x FROM {events} GROUP BY user_id), "
        f"r AS (SELECT x, row_number() OVER (ORDER BY x, k) t FROM k) "
        f"SELECT count(*), sum(x), round((2 * sum(CAST(t AS HUGEINT) * x) - (count(*) + 1) * sum(x))"
        f" / (count(*) * sum(x)), 6) FROM r").fetchone()
    return {"operators.Dedup.exactDedup": [int(x) for x in exact],
            "functions.Curation.chunkDocuments": [int(x) for x in chunks],
            "operators.Stats.ksTest": [int(x) for x in ks],
            "operators.Stats.giniConcentration": [int(gini[0]), int(gini[1]), float(gini[2])]}


def check(run_dir):
    """Returns (op id, message) for each step whose recorded facts differ."""
    path = os.path.join(run_dir, "curation_facts.json")
    if not os.path.isfile(path):
        return [(-1, "curation: the run wrote no facts to check")]
    with open(path) as f:
        rec = json.load(f)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    want = expected(con, rec["inputs"])
    bad = []
    for step, got in sorted(rec["facts"].items()):
        w = want[step]
        same = all(abs(a - b) <= 1e-6 if isinstance(b, float) else a == b for a, b in zip(got, w))
        if len(got) != len(w) or not same:
            bad.append((rec["ops"][step], f"{step}: graft gave {got}, DuckDB gives {w}"))
    return bad
