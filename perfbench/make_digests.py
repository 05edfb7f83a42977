"""Regenerate ``digests.json``: the expected result of every query op.

Registered queries get the digest of their DuckDB oracle
(``QUERIES[n].oracle``) over the benchmark's tables. Ops in
``ENGINE_PINNED`` get the digest of the engine's own result: the oracle
of ``text_bpe_token_count`` is a fixture of token counts keyed by the
md5 of the engine's own test documents, so it cannot cover generated
text.
Every engine result is also compared with its oracle, so a query that
disagrees with its oracle on these tables is reported, not pinned.

Usage (from the repository root): python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

harness.require_engine()

from checks import digest, read_parquet_dir  # noqa: E402
from tables import generate_tables  # noqa: E402
from workloads import OPS, TABLES_SF  # noqa: E402

ENGINE_PINNED = {"text_bpe_token_count"}


def main() -> int:
    import duckdb  # noqa: PLC0415

    with harness.Sandbox() as box:
        sf_dir = os.path.join(box.root, "tables")
        generate_tables(sf_dir, TABLES_SF)
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            name = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{f}'")
        spark = harness.start_spark(box, cpus=4)
        from cc_pyspark_spark.plans import QUERIES  # noqa: PLC0415

        out, bad = {}, []
        for name in OPS:
            with tempfile.TemporaryDirectory(dir=box.root) as d:
                harness.build(spark, name, sf_dir).write.parquet(f"{d}/r")
                got = digest(read_parquet_dir(f"{d}/r"))
            harness.release(spark)
            oracle = None if name in ENGINE_PINNED else QUERIES[name].oracle
            want = digest(con.sql(oracle).df()) if oracle else got
            print(f"{name}: {'oracle' if oracle else 'engine'} "
                  f"{'match' if got == want else 'MISMATCH'}", flush=True)
            if got != want:
                bad.append(name)
            out[name] = want
        harness.stop_spark(spark)
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump({"sf": TABLES_SF, "digests": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
