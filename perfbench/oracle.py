"""Reference answers for the curation queries: run each registry
query's DuckDB oracle SQL (``REGISTRY[name].oracle``) over a directory
holding ``documents.parquet`` and ``embeddings.parquet``.

Usage: python3 perfbench/oracle.py <data_dir> <out.json>
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ("doc_minhash_lsh_pairs", "emb_semantic_dedup")


def main(data_dir: str, out_path: str) -> None:
    import duckdb

    from ehr_data_pipeline_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {q: [list(r) for r in con.execute(REGISTRY[q].oracle).fetchall()] for q in QUERIES}
    finally:
        con.close()
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
