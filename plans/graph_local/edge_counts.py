#!/usr/bin/env python3
"""Merged edge-table size of each graph query, as GraphOps builds it, at
the given scale dirs — the row count the driver-local regime's collect
compares against GraphOps.LocalEdgeLimit (2^22 = 4,194,304).

Usage: python3 plans/graph_local/edge_counts.py /path/sf0.01 /path/sf0.1
"""
import sys
import duckdb

LIMIT = 1 << 22
CO = """WITH b AS (SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS t,
  CAST(json_extract_string(props, '$.k') AS INT) // 10 AS kd, user_id AS u FROM events),
e AS (SELECT DISTINCT a.u AS u, b2.u AS v FROM b a JOIN b b2
  ON a.h = b2.h AND a.t = b2.t AND a.kd = b2.kd AND a.u < b2.u)
SELECT count(*) FROM e"""
QUERIES = {
    # pageRank: (src nation, dst nation) pairs
    "q233_trade_pagerank": """SELECT count(*) FROM (SELECT DISTINCT c_nationkey, s_nationkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey)""",
    # bfsHops: (customer, supplier) pairs in both orientations
    "q287_bfs_reach": """SELECT 2 * count(*) FROM (SELECT DISTINCT o_custkey, l_suppkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
    # hits: event-type transitions
    "q306_hits": """SELECT count(*) FROM (SELECT DISTINCT event_type AS s, lead(event_type)
        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d FROM events) WHERE d IS NOT NULL""",
    # pageRank: word co-occurrence pairs, both directions
    "q327_textrank": """WITH tok AS (SELECT doc_id, u.x.w AS w, u.x.i AS pos FROM (
        SELECT doc_id, unnest(list_transform(regexp_split_to_array(lower(text), '[^a-z]+'),
          (x, i) -> {'w': x, 'i': i})) AS x FROM documents) u WHERE length(x.w) >= 3),
        co AS (SELECT a.w AS s, b.w AS d FROM tok a JOIN tok b ON a.doc_id = b.doc_id
          AND b.pos > a.pos AND b.pos - a.pos <= 3 AND a.w <> b.w)
        SELECT count(*) FROM (SELECT s, d FROM co UNION SELECT d, s FROM co)""",
    # kCore, labelPropagation, Louvain: canonical co-activity edges
    "q323/q330/q337/q347 (co-activity)": CO,
}

print("query\t" + "\t".join(a.rstrip("/").split("/")[-1] for a in sys.argv[1:]) + "\tregime")
for name, sql in QUERIES.items():
    counts = []
    for sf in sys.argv[1:]:
        con = duckdb.connect()
        for t in ("customer", "documents", "events", "lineitem", "orders", "supplier"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        counts.append(con.execute(sql).fetchone()[0])
    regime = "driver-local" if max(counts) <= LIMIT else "distributed above the bound"
    print(name + "\t" + "\t".join(str(c) for c in counts) + "\t" + regime)
