"""Query sweep: the 37 ``bench.BENCH_QUERIES`` on one fixed scale factor.

One operation is one query: build it, then materialise every output column
with ``write.format("noop")`` (a ``count()`` lets Catalyst prune unused
aggregates away). The seed fixes the query order of every pass.

The check runs each oracle-backed query once more with ``collect()`` and
compares it against ``workload.ORACLES`` in DuckDB over the same Parquet,
with the comparison of ``tools/check_queries.py``. The three rows-only queries are proven through their
hash-checked derived contracts.
"""

from __future__ import annotations

import os
import random
import statistics

from bench import BENCH_QUERIES
from statline_bq_spark.workload import ORACLES, QUERIES

from checks import canonical_rows, duck, oracle_diff

#: the fixed TPC-H-like tables (TESTDATA.md); overridable as in tests/conftest.py
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: rows-only headliner -> the oracle-checked query that proves it
DERIVED = {
    "minhash_pairs_raw": "minhash_neardup_pairs",
    "simhash_pairs_raw": "simhash_neardup_pairs",
    "ivf_topk_raw": "ivf_ann_topk",
}


class Sweep:
    min_passes = 3

    def __init__(self, name: str, scale: str, seed: int):
        self.name = name
        self.sf = os.path.join(TESTDATA, f"sf{scale}")
        self.rng = random.Random(seed)
        self.output_rows = 0

    def prepare(self) -> None:
        missing = [t for t in TABLES
                   if not os.path.exists(os.path.join(self.sf, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"{self.sf}: missing tables {missing}")

    def begin_pass(self) -> list[str]:
        order = list(BENCH_QUERIES)
        self.rng.shuffle(order)
        return order

    def run_op(self, spark, name: str, tracer=None) -> int:
        if tracer is None:
            QUERIES[name](spark, self.sf).write.format("noop").mode(
                "overwrite").save()
        else:
            with tracer.span("workload", op=name):
                df = QUERIES[name](spark, self.sf)
            tracer.plan_and_exec(df)
        return 0

    def rows_per_s(self, warm: list[dict]) -> float:
        """Output rows materialised per second of the median warm pass."""
        return self.output_rows / statistics.median(p["wall"] for p in warm)

    def stored_ratio(self) -> float:
        return 0.0  # the sweep writes nothing

    def traced_extras(self, spark, tracer) -> None:
        pass

    def check(self, spark) -> dict[str, list[str]]:
        """query -> mismatches; also sets ``output_rows``."""
        con = duck()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf, t)}.parquet')")
        bad: dict[str, list[str]] = {}
        self.output_rows = 0
        for name in BENCH_QUERIES:
            try:
                rows = self._collect(spark, name)
                self.output_rows += len(rows[1])
                proof = DERIVED.get(name)
                if proof is not None:
                    if not rows[1]:
                        bad[name] = ["no rows"]
                        continue
                    rows = self._collect(spark, proof)
                diff = oracle_diff(rows, self._oracle(con, proof or name))
            except Exception as exc:  # noqa: BLE001 - a crash is a mismatch
                diff = [f"{type(exc).__name__}: {exc}"[:300]]
            if diff:
                bad[name] = diff
        con.close()
        return bad

    def check_passes(self) -> dict[str, list[str]]:
        return {}  # a query pass leaves nothing behind to check

    def _collect(self, spark, name: str):
        df = QUERIES[name](spark, self.sf)
        return canonical_rows(df.columns, df.collect())

    @staticmethod
    def _oracle(con, name: str):
        cur = con.execute(ORACLES[name])
        return canonical_rows([d[0] for d in cur.description], cur.fetchall())
