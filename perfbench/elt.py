"""``elt_cbs``: the CBS write path, OData pages -> schema map -> Parquet ->
catalog with column comments, then the published-surface read-back queries.

One pass is thirteen operations: land the v3 and the v4 dataset, re-run
both with an unchanged ``Modified`` stamp (the skip path), and three rounds
of the three read-back queries (code decode, long -> wide pivot, group
hierarchy). The rounds give the sub-second read-back queries, where the
median operation falls, enough samples for a steady median. Every pass
lands into a fresh storage root, so no pass is skipped by the one before it.

The check compares what landed against DuckDB reading the same ndjson
pages; none of it runs inside a timed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

from pyspark.sql import functions as F

from statline_bq_spark import pipeline
from statline_bq_spark.operators import hierarchy, pivot, star
from statline_bq_spark.plans import layout
from statline_bq_spark.sources import catalog
from statline_bq_spark.sources.odata import edm_schema_to_struct, table_file_name

import fixtures as fx
from checks import duck, exact_diff

LOAD_DATE = "20240101"
DATASETS = (("v3", fx.V3_ID, fx.V3_TABLES), ("v4", fx.V4_ID, fx.V4_TABLES))
QUERY_OPS = ("query_decode", "query_pivot", "query_hierarchy")
OPS = ("land_v3", "land_v4", "skip_v3", "skip_v4") + QUERY_OPS
READBACK_ROUNDS = 3
SUMMED = ("Aantal00_5", "Aantal01_6", "Aantal90_95")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class EltCbs:
    name = "elt_cbs"
    min_passes = 3

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.fx_dir = ""
        self.pass_no = 0
        self.lake = ""
        self.results: list[tuple[int, str, object]] = []  # (pass, op, result)
        self.want_counts: dict[str, int] = {}  # landed file name -> source rows
        self.input_bytes = 0

    # -- untimed preparation ------------------------------------------------

    def prepare(self) -> None:
        """Generate (or reuse) the seed's fixtures in a child process."""
        cache = os.path.join(self.work, "fixtures")
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "fixtures.py"),
             "--seed", str(self.seed), "--cache", cache],
            check=True, capture_output=True, text=True,
        )
        self.fx_dir = out.stdout.strip().splitlines()[-1]
        self.meta = {}
        self.col_desc = {}
        self.csdl = {}
        for _, ds, _ in DATASETS:
            d = os.path.join(self.fx_dir, ds)
            with open(os.path.join(d, "Metadata.json"), encoding="utf-8") as f:
                self.meta[ds] = json.load(f)
            with open(os.path.join(d, "metadata.xml"), encoding="utf-8") as f:
                self.csdl[ds] = f.read()
            cd = os.path.join(d, "ColDescriptions.json")
            if os.path.exists(cd):
                with open(cd, encoding="utf-8") as f:
                    self.col_desc[ds] = json.load(f)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(self.fx_dir) for f in files
            if f.endswith(".ndjson")
        )

    def table_dir(self, ds: str, table: str) -> str:
        return os.path.join(self.fx_dir, ds, table)

    # -- one pass -------------------------------------------------------------

    def begin_pass(self) -> list[str]:
        """Fresh storage root per pass; older roots are removed (untimed)."""
        self.pass_no += 1
        lakes = os.path.join(self.work, "lake")
        if os.path.isdir(lakes):
            for d in os.listdir(lakes):
                shutil.rmtree(os.path.join(lakes, d), ignore_errors=True)
        self.lake = os.path.join(lakes, f"pass-{self.pass_no}")
        return list(OPS[:4] + QUERY_OPS * READBACK_ROUNDS)

    def reader(self, spark, version: str, ds: str, table: str):
        """Thunk: the table's pages through the offline cbs_odata reader,
        with the schema mapped from the dataset's CSDL document."""
        schema = edm_schema_to_struct(self.csdl[ds], table)
        path = self.table_dir(ds, table)

        def load():
            return (spark.read.format("cbs_odata").schema(schema)
                    .option("path", path).option("odata_version", version)
                    .load())

        return load

    def sources(self, spark, version: str, ds: str, tables) -> dict:
        return {t: self.reader(spark, version, ds, t) for t in tables}

    def land(self, spark, version: str, ds: str, tables):
        return pipeline.process_dataset(
            spark, ds, self.sources(spark, version, ds, tables), self.meta[ds],
            storage_root=self.lake, source="cbs", odata_version=version,
            endpoint="catalog", load_date=LOAD_DATE,
            column_descriptions=self.col_desc.get(ds),
        )

    def latest(self, spark, version: str, ds: str, table: str):
        return layout.read_latest_snapshot(
            spark, self.lake, "cbs", version, ds,
            table_file_name("cbs", version, ds, table))

    def decode_query(self, spark):
        ns = catalog.namespace_name("cbs", "v3", fx.V3_ID)
        fact = spark.table(f"`{ns}`.`{fx.V3_ID}_TypedDataSet`")
        wijk = self.latest(spark, "v3", fx.V3_ID, "WijkenEnBuurten")
        soort = self.latest(spark, "v3", fx.V3_ID, "SoortRegio")
        out = star.decode_codes(fact, wijk, "WijkenEnBuurten", "Key",
                                {"CategoryGroupID": "WijkGroup"})
        out = star.decode_codes(out, soort, "SoortRegio_2", "Key",
                                {"Title": "SoortRegioTitle"})
        return out.groupBy("SoortRegioTitle").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("WijkGroup").alias("n_grouped"),
            *[F.sum(c).alias(f"sum_{c}") for c in SUMMED],
        )

    def pivot_query(self, spark):
        obs = self.latest(spark, "v4", fx.V4_ID, "Observations")
        codes = self.latest(spark, "v4", fx.V4_ID, "MeasureCodes")
        measures = [r[0] for r in codes.select("Identifier")
                    .orderBy("Index").collect()]
        return pivot.long_to_wide(obs, ["WijkenEnBuurten", "Perioden"],
                                  "Measure", F.max("Value"), measures)

    def hierarchy_query(self, spark):
        groups = self.latest(spark, "v3", fx.V3_ID, "CategoryGroups")
        edges = groups.filter(F.col("ParentID").isNotNull()).select(
            F.col("ID").alias("child"), F.col("ParentID").alias("parent"))
        return hierarchy.hierarchy_closure(edges)

    def query(self, spark, op: str):
        return {"query_decode": self.decode_query,
                "query_pivot": self.pivot_query,
                "query_hierarchy": self.hierarchy_query}[op](spark)

    def run_op(self, spark, op: str, tracer=None):
        kind, _, which = op.partition("_")
        if kind in ("land", "skip"):
            version = which
            ds, tables = next((d, t) for v, d, t in DATASETS if v == version)
            res = self.land(spark, version, ds, tables)
            self.results.append((self.pass_no, op, res))
            return sum(res.row_counts.values()) if kind == "land" else 0
        if tracer is None:
            noop(self.query(spark, op))
        else:
            with tracer.span("workload", op=op):
                df = self.query(spark, op)
            tracer.plan_and_exec(df)
        return 0

    def traced_extras(self, spark, tracer) -> None:
        """Traced runs only: scan every source table on its own (a noop
        materialisation), outside the pass timing, for the source layer."""
        from pyspark.sql import Observation

        tracer.op = "odata_source.scan"
        for version, ds, tables in DATASETS:
            for t in tables:
                obs = Observation(f"perfbench.scan.{self.pass_no}.{ds}.{t}")
                df = self.reader(spark, version, ds, t)().observe(
                    obs, F.count(F.lit(1)).alias("rows"))
                with tracer.span("odata_source.scan"):
                    noop(df)
                tracer.count("odata_source.rows", obs.get["rows"])
                tracer.count("odata_source.pages", sum(
                    1 for f in os.listdir(self.table_dir(ds, t))
                    if f.endswith(".ndjson")))

    # -- checks (untimed) -----------------------------------------------------

    def check(self, spark) -> dict[str, list[str]]:
        """op -> list of mismatches in the current landing: tables, catalog
        comments and read-back query results. It runs right after the cold
        pass, so its own run of every read-back query warms them up."""
        bad: dict[str, list[str]] = {op: [] for op in OPS}
        con = duck()
        want_counts = self.want_counts
        for version, ds, tables in DATASETS:
            for t in tables:
                src = self._ndjson_view(con, ds, t)
                fname = table_file_name("cbs", version, ds, t)
                landed = os.path.join(self.lake, "cbs", version, ds, LOAD_DATE, fname)
                cols = [c for c, _ in fx.table_columns(t)]
                got_cols = [r[0] for r in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{landed}/*.parquet')"
                ).fetchall()]
                exp_cols = [c.replace(".", "_") for c in cols]
                if got_cols != exp_cols:
                    bad[f"land_{version}"].append(f"{t}: columns {got_cols} != {exp_cols}")
                    continue
                want = con.execute(_count_hash(src, cols)).fetchone()
                got = con.execute(_count_hash(
                    f"read_parquet('{landed}/*.parquet')", exp_cols)).fetchone()
                want_counts[fname] = want[0]
                if want != got:
                    bad[f"land_{version}"].append(
                        f"{t}: (rows, checksum) {got} != {want}")
        bad["land_v3"] += self._check_comments(spark)
        for op, sql in self._oracles(con).items():
            got = self.query(spark, op).toArrow()
            bad[op] += exact_diff(con, got, sql)
        con.close()
        return {op: v for op, v in bad.items() if v}

    def check_passes(self) -> dict[str, list[str]]:
        """op -> mismatches in every pass's DatasetResult: the skip flag,
        the row counts and the registered tables (no Spark involved)."""
        bad: dict[str, list[str]] = {op: [] for op in OPS}
        want_counts = self.want_counts
        for pass_no, op, res in self.results:
            kind, _, version = op.partition("_")
            ds = fx.V3_ID if version == "v3" else fx.V4_ID
            if res.skipped != (kind == "skip"):
                bad[op].append(f"pass {pass_no}: skipped={res.skipped}")
            if kind == "land":
                exp = {f: n for f, n in want_counts.items() if f".{ds}_" in f}
                if res.row_counts != exp:
                    bad[op].append(f"pass {pass_no}: row_counts {res.row_counts} != {exp}")
                tables = sorted(catalog.table_id_from_file_name(f) for f in exp)
                if res.tables != tables:
                    bad[op].append(f"pass {pass_no}: tables {res.tables}")
        return {op: v for op, v in bad.items() if v}

    def _ndjson_view(self, con, ds: str, table: str) -> str:
        cols = ", ".join(f"'{c}': '{_DUCK[k]}'" for c, k in fx.table_columns(table))
        view = f"src_{ds}_{table}"
        con.execute(
            f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_json("
            f"'{self.table_dir(ds, table)}/page-*.ndjson', "
            f"format='newline_delimited', columns={{{cols}}})")
        return view

    def _check_comments(self, spark) -> list[str]:
        ns = catalog.namespace_name("cbs", "v3", fx.V3_ID)
        rows = spark.sql(
            f"DESCRIBE TABLE `{ns}`.`{fx.V3_ID}_TypedDataSet`").collect()
        got = {r.col_name: r.comment for r in rows if not r.col_name.startswith("#")}
        out = []
        for col, desc in self.col_desc[fx.V3_ID].items():
            exp = reference_comment(desc)
            if got.get(col) != exp:
                out.append(f"comment {col}: {got.get(col)!r:.60} != {exp!r:.60}")
        return out

    def _oracles(self, con) -> dict[str, str]:
        fact = self._ndjson_view(con, fx.V3_ID, "TypedDataSet")
        wijk = self._ndjson_view(con, fx.V3_ID, "WijkenEnBuurten")
        soort = self._ndjson_view(con, fx.V3_ID, "SoortRegio")
        groups = self._ndjson_view(con, fx.V3_ID, "CategoryGroups")
        obs = self._ndjson_view(con, fx.V4_ID, "Observations")
        sums = ", ".join(f"sum(f.{c}) AS sum_{c}" for c in SUMMED)
        cells = ", ".join(
            f"max(Value) FILTER (WHERE Measure = '{m}') AS \"{m}\""
            for m in fx.v4_measures())
        return {
            "query_decode": f"""
                SELECT s.Title AS SoortRegioTitle, count(*) AS n_rows,
                       count(w.CategoryGroupID) AS n_grouped, {sums}
                FROM {fact} f JOIN {wijk} w ON f.WijkenEnBuurten = w.Key
                JOIN {soort} s ON f.SoortRegio_2 = s.Key GROUP BY 1""",
            "query_pivot": f"""
                SELECT WijkenEnBuurten, Perioden, {cells}
                FROM {obs} GROUP BY 1, 2""",
            "query_hierarchy": f"""
                WITH RECURSIVE e AS (
                  SELECT DISTINCT ID AS child, ParentID AS ancestor
                  FROM {groups} WHERE ParentID IS NOT NULL
                ), c(child, ancestor, depth) AS (
                  SELECT child, ancestor, 1 FROM e
                  UNION
                  SELECT c.child, e.ancestor, c.depth + 1
                  FROM c JOIN e ON c.ancestor = e.child WHERE c.depth < 12
                ) SELECT child, ancestor, depth FROM c""",
        }

    # -- figures --------------------------------------------------------------

    def rows_per_s(self, warm: list[dict]) -> float:
        """Input rows landed per second of landing, median over passes."""
        return statistics.median(
            sum(o["rows"] for o in p["ops"])
            / sum(o["s"] for o in p["ops"] if o["op"].startswith("land_"))
            for p in warm)

    def stored_ratio(self) -> float:
        """Parquet bytes of the last landing per ndjson input byte."""
        stored = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(self.lake) for f in files
            if f.endswith(".parquet")
        )
        return stored / self.input_bytes


_DUCK = {"int": "INTEGER", "long": "BIGINT", "double": "DOUBLE",
         "string": "VARCHAR", "bool": "BOOLEAN"}


def _count_hash(src: str, cols: list[str]) -> str:
    quoted = ", ".join(f'"{c}"' for c in cols)
    return (f"SELECT count(*), coalesce(sum(hash({quoted})::HUGEINT), 0) "
            f"FROM {src}")


def reference_comment(desc: str | None) -> str | None:
    """The reference's description rule: strip newlines, then cut anything
    over 1024 characters to 1020 plus '...'."""
    if desc is None:
        return None
    clean = desc.replace("\n", "").replace("\r", "")
    return clean[:1020] + "..." if len(clean) > 1024 else clean
