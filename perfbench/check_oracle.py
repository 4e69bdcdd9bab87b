#!/usr/bin/env python3
"""Compare the program's catalog outputs with the DuckDB oracle.

    python3 perfbench/check_oracle.py DATA_DIR OUT_DIR [QUERY ...]

OUT_DIR is what `graft.Verify DATA_DIR OUT_DIR QUERY ...` writes: one
parquet directory per query plus `oracle_sql.json`. Each named query (all
of them in OUT_DIR/oracle_sql.json when none are named) is run in DuckDB
over DATA_DIR's tables and compared with the program's output the way
`tools/check_oracle.py` does: columns sorted by name, rows sorted, values
compared column by column. Prints one line per query and exits 0 only if
every query matches; `run.py --record-catalog` records reference
fingerprints only after this passes.
"""
import json
import os
import sys

import duckdb

TABLES = ["documents", "embeddings", "events", "lineitem", "orders", "customer",
          "nation", "supplier", "part", "region"]

# Queries over the planted corpus. The oracle SQL sizes that corpus as
# 20 x |documents| (the sf0.01 convention: 1000 rows -> 20000 docs), while
# the program generates 1000 docs for an sf0.001 directory; the oracle sees
# the first 50 documents rows, which sizes its corpus to the same 1000 docs.
CORPUS_QUERIES = {"q_kg_adjacency", "q_kg_pagerank", "q_kg_stories", "q_kg_twohop",
                  "q_media_features", "q_ner_spans", "q_syntax_parse",
                  "q_triples_canonical", "q_video_frames"}
CORPUS_DOC_ROWS = 50


def compare(con, data, out, name, sql):
    """None when the outputs match, else what differs."""
    con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{data}/documents.parquet'"
            + (f" ORDER BY doc_id LIMIT {CORPUS_DOC_ROWS}" if name in CORPUS_QUERIES else ""))
    got = con.sql(f"SELECT * FROM parquet_scan('{out}/{name}/*.parquet')").df()
    exp = con.sql(sql).df()
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns got={list(got.columns)} exp={list(exp.columns)}"
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    if len(g) != len(e):
        return f"rows got={len(g)} exp={len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype != ev.dtype:
            gv, ev = gv.astype(str), ev.astype(str)
        if gv.dtype == object:
            eq = gv.fillna("§") == ev.fillna("§")
        else:
            eq = (gv == ev) | (gv.isna() & ev.isna())
        if not eq.all():
            bad = (~eq).idxmax()
            return f"value col={c} row={bad} got={gv[bad]!r} exp={ev[bad]!r}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    data, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for name in sorted(names or oracle):
        try:
            if name not in oracle:
                diff = "no oracle SQL"
            elif not os.path.isdir(os.path.join(out, name)):
                diff = "no program output"
            else:
                diff = compare(con, data, out, name, oracle[name])
        except Exception as ex:  # a query the oracle cannot run fails the compare
            diff = f"error {ex}"
        print(f"{name}: {'OK' if diff is None else 'MISMATCH ' + diff}", flush=True)
        bad += diff is not None
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
