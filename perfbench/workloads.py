"""The benchmark's workloads and their output checks.

Each workload is a list of operations run in passes.  An op is one registry
query run to the noop sink, or one job step run to its committed output.
The first pass of a run is the cold pass; the query mixes check its rows,
the catalog jobs check the tables every pass has committed.  With a tracer,
every call into a layer of the program is wrapped in a span named after
that layer.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os

SCALE_FACTOR = 0.01

QUERY_MIXES = {
    # JVM-only registry queries: no Python stage in PLAN_FINGERPRINTS.json,
    # sub-second each, so the driver-side fixed cost per query dominates.
    "relational_mix": (
        "pricing_summary region_rollup customer_order_reconcile "
        "top_orders_per_customer orders_by_month nation_pair_volume "
        "part_value_share late_order_priority_counts brand_band_revenue "
        "k_anonymity_audit user_event_gaps sessionize histogram_mode "
        "catalog_upsert top_supplier_revenue"
    ).split(),
    # Queries that cross into Python workers (dedup family, codecs) or run
    # eager build-side jobs.
    "llm_python_mix": (
        "minhash_verified_dups dedup_cluster_keep simhash_exact_containment "
        "ngram_jaccard_pairs rfm_segments embedding_topk rate_limited_angle "
        "jpeg_roundtrip_contract jpeg_progressive_contract png_palette_contract "
        "wav_pcm_surface_contract bmp_surface_contract"
    ).split(),
}

CATALOG_SCENES = 3000  # scene universe; each listing holds about two thirds
CATALOG_LISTED = 2 / 3
CATALOG_CYCLES = 8  # listings and change batches generated per run; reused in turn
SEQUENCE_MAPS = 2  # maps whose camera sequences are simulated each cycle
CDC_SNAPSHOT = 500
CDC_BATCH = 200


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


class QueryMix:
    """Registry queries on seeded datagen tables, checked against their
    DuckDB oracles."""

    def __init__(self, spark, run_dir: str, names: list[str]):
        from worlddatapipeline_spark.queries import QUERIES

        self.spark = spark
        self.data = os.path.join(run_dir, "data")
        self.names = names
        self.queries = {n: QUERIES[n] for n in names}
        self.outputs: dict[str, tuple[list[str], list]] = {}
        with open(os.path.join(run_dir, "expected.json")) as fh:
            self.expected = json.load(fh)

    def pass_ops(self, rng):
        """One pass: every query once, in a seeded order."""
        return [(n, self._op(n)) for n in rng.permutation(self.names)]

    def cold_ops(self, rng):
        return [(n, self._cold(n)) for n in rng.permutation(self.names)]

    def _cold(self, name):
        def run(tracer):
            df = self.queries[name](self.spark, self.data)
            self.outputs[name] = (df.columns, df.collect())
        return run

    def _op(self, name):
        def run(tracer):
            with _span(tracer, "queries.build"):
                df = self.queries[name](self.spark, self.data)
            if tracer is not None:
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with _span(tracer, "spark.exec"):
                df.write.format("noop").mode("overwrite").save()
        return run

    def after_op(self, name, tracer):
        """Outside the op's timing: a direct load_tables call over the
        tables the query reads, timed as the session layer's share."""
        if tracer is not None:
            from worlddatapipeline_spark.session import load_tables

            with tracer.span("session.load_tables"):
                load_tables(self.spark, self.data, self.expected[name]["tables"])

    def check(self) -> tuple[int, int]:
        """(wrong, checked): queries whose cold-pass rows differ from the
        oracle's, compared as tools/check_oracle.py does."""
        from check_oracle import rows_to_multiset

        wrong = 0
        for name in self.names:
            exp = self.expected[name]
            if name not in self.outputs:
                wrong += 1
                continue
            cols, rows = self.outputs[name]
            got = rows_to_multiset(cols, [[r[c] for c in cols] for r in rows])
            wrong += sorted(cols) != exp["cols"] or got != exp["rows"]
        return wrong, len(self.names)

    def disk_bytes(self) -> tuple[int, int]:
        """The queries write only to the noop sink."""
        return 0, 0


class CatalogJobs:
    """The reference's job lifecycle: listing ingest, scan, catalog merges,
    bake plan, camera sequences, render plan, reconcile and one CDC batch
    per cycle, all committing to per-run directories."""

    STEPS = ["ingest", "scan", "export_document", "merge_scenes", "merge_maps",
             "bake_plan", "sequence", "merge_sequences", "render_plan", "reconcile", "cdc"]

    def __init__(self, spark, run_dir: str):
        from pyspark.sql import functions as F

        self.spark = spark
        self.F = F
        self.inp = os.path.join(run_dir, "catalog_inputs")
        self.out = os.path.join(run_dir, "outputs")
        self.tables = os.path.join(self.inp, "catalog")
        self.scenes_path = os.path.join(self.tables, "scenes")
        self.maps_path = os.path.join(self.tables, "maps")
        self.sequences_path = os.path.join(self.tables, "sequences")
        self.cdc_src = os.path.join(run_dir, "cdc_source")
        self.cdc_state = os.path.join(run_dir, "cdc_state")
        for d in (self.cdc_src, self.out):
            os.makedirs(d, exist_ok=True)
        with open(os.path.join(run_dir, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.cycle = -1
        self.cycles_applied: list[int] = []
        self.fingerprints: list[str] = []
        self.state: dict = {}

    def _inputs(self):
        """Frames every cycle reuses, read once per run."""
        if not self.state:
            sp = self.spark
            self.sequence_rows = [(f"{m}_{i:03d}", m) for m in self.expected["sequence_maps"]
                                  for i in range(2)]
            self.state = {
                "actors": sp.read.parquet(os.path.join(self.inp, "actors.parquet")),
                "store": sp.read.parquet(os.path.join(self.inp, "store.parquet")),
                "snapshot": sp.read.parquet(os.path.join(self.inp, "cdc_snapshot.parquet")),
                "seq_maps": sp.createDataFrame(
                    [(m,) for m in self.expected["sequence_maps"]], "map_name string"),
                "sequences": sp.createDataFrame(
                    self.sequence_rows, "sequence_name string, map_name string"),
                "change_schema": sp.read.parquet(
                    os.path.join(self.inp, "changes_0.parquet")).schema,
            }
        return self.state

    def cold_ops(self, rng):
        return self.pass_ops(rng)

    def pass_ops(self, rng):
        """One cycle of job steps, in dependency order."""
        self.cycle += 1
        self.cycles_applied.append(self.cycle % CATALOG_CYCLES)
        self._stage_change_batch()
        ctx: dict = {}
        return [(s, (lambda t, s=s: getattr(self, f"_{s}")(t, ctx))) for s in self.STEPS]

    def _stage_change_batch(self):
        """The cycle's change file lands in the stream's source directory
        before the cycle starts, as a new upstream file would."""
        c = self.cycle % CATALOG_CYCLES
        src = os.path.join(self.inp, f"changes_{c}.parquet")
        with open(src, "rb") as a, open(
                os.path.join(self.cdc_src, f"part-{self.cycle:05d}.parquet"), "wb") as b:
            b.write(a.read())

    def _ingest(self, tracer, ctx):
        from worlddatapipeline_spark.functions import paths
        from worlddatapipeline_spark.sources.listings import parse_bos_listing

        F = self.F
        path = os.path.join(self.inp, f"listing_{self.cycle % CATALOG_CYCLES}.txt")
        with _span(tracer, "sources.listing_parse"):
            parsed = parse_bos_listing(self.spark.read.text(path))
            files = parsed.filter(
                (F.col("kind") == "object") & (paths.path_ext(F.col("key")) == "umap")
            ).select(
                F.regexp_extract("key", r"^([^/]+)/", 1).alias("scene_name"),
                paths.path_stem(F.col("key")).alias("map_name"),
                F.col("key").alias("path"),
                "size",
            )
            ctx["files"] = files.localCheckpoint(eager=True)

    def _scan(self, tracer, ctx):
        from worlddatapipeline_spark.plans.pipelines import run_scan_job

        with _span(tracer, "plans.scan"):
            ctx["scan"] = run_scan_job(self.spark, ctx["files"])
            ctx["scan"]["stats"].collect()

    def _export_document(self, tracer, ctx):
        with _span(tracer, "plans.scan"):
            ctx["scan"]["document"].write.mode("overwrite").json(
                os.path.join(self.out, "document"))

    def _merge(self, tracer, path, frame, keys):
        from worlddatapipeline_spark.operators.reconcile import merge_upsert_parquet

        with _span(tracer, "catalog.merge"):
            merge_upsert_parquet(self.spark, path, frame, keys)

    def _merge_scenes(self, tracer, ctx):
        self._merge(tracer, self.scenes_path, ctx["scan"]["scenes"], ["scene_name"])

    def _merge_maps(self, tracer, ctx):
        self._merge(tracer, self.maps_path, ctx["scan"]["maps"], ["scene_name", "map_name"])

    def _read(self, tracer, path):
        from worlddatapipeline_spark.operators.reconcile import read_parquet_table

        with _span(tracer, "catalog.read"):
            return read_parquet_table(self.spark, path)

    def _bake_plan(self, tracer, ctx):
        from worlddatapipeline_spark.plans.pipelines import run_bake_plan

        maps = self._read(tracer, self.maps_path)
        with _span(tracer, "plans.bake_plan"):
            plan = run_bake_plan(self.spark, maps, self._inputs()["actors"])
            plan.write.mode("overwrite").parquet(os.path.join(self.out, "bake_plan"))

    def _sequence(self, tracer, ctx):
        from worlddatapipeline_spark.plans.pipelines import run_sequence_job

        with _span(tracer, "plans.sequence"):
            run_sequence_job(self.spark, self._inputs()["seq_maps"],
                             output_dir=os.path.join(self.out, "cameras"))

    def _merge_sequences(self, tracer, ctx):
        self._merge(tracer, self.sequences_path, self._inputs()["sequences"], ["sequence_name"])

    def _render_plan(self, tracer, ctx):
        from worlddatapipeline_spark.plans.pipelines import run_render_plan

        sequences = self._read(tracer, self.sequences_path)
        maps = self._read(tracer, self.maps_path)
        with _span(tracer, "plans.render_plan"):
            plan = run_render_plan(self.spark, sequences, maps,
                                   {"output_base_dir": "renders/2024-03-01"})
            plan.write.mode("overwrite").parquet(os.path.join(self.out, "render_plan"))

    def _reconcile(self, tracer, ctx):
        from worlddatapipeline_spark.plans.pipelines import run_reconcile_job

        scenes = self._read(tracer, self.scenes_path)
        with _span(tracer, "plans.reconcile"):
            res = run_reconcile_job(self.spark, scenes, self._inputs()["store"], ["scene_name"])
            res["annotated"].write.mode("overwrite").parquet(os.path.join(self.out, "reconcile"))
            res["stats"].collect()

    def _cdc(self, tracer, ctx):
        from worlddatapipeline_spark.streaming.cdc import cdc_stream_into_dir

        inputs = self._inputs()
        with _span(tracer, "streaming.cdc") as rec:
            stream = self.spark.readStream.schema(inputs["change_schema"]).parquet(self.cdc_src)
            q = cdc_stream_into_dir(stream, inputs["snapshot"], ["scene_name"], ["seq"],
                                    self.cdc_state)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"CDC stream failed: {q.exception()}")
            progress = q.recentProgress
        if rec is not None:
            rec["stream"] = {
                "batches": sum(1 for p in progress if p["numInputRows"] > 0),
                "batch_ms": sum(p["durationMs"].get("triggerExecution", 0) for p in progress),
                "input_rows": sum(p["numInputRows"] for p in progress),
            }

    def after_op(self, name, tracer):
        """Outside the op's timing: fingerprint the camera export so the
        check can require it to repeat every cycle."""
        if name == "sequence":
            lines = set()
            for f in glob.glob(os.path.join(self.out, "cameras", "*", "*", "*.csv")):
                rel = os.path.relpath(os.path.dirname(f), self.out)
                with open(f) as fh:
                    lines.update(f"{rel}:{line}" for line in fh)
            self.fingerprints.append(
                hashlib.sha256("".join(sorted(lines)).encode()).hexdigest())

    def _table_rows(self, path, cols):
        from worlddatapipeline_spark.operators.reconcile import read_parquet_table

        return {tuple(r) for r in read_parquet_table(self.spark, path).select(*cols).collect()}

    def check(self) -> tuple[int, int]:
        """(wrong, checked) over five outputs: the final scenes and maps
        tables against a last-writer-wins replay of the applied listings,
        the sequences table against the simulated sequences, the CDC table
        against a max-sequence replay of the change batches, and the camera
        export fingerprint, which must repeat each cycle."""
        from worlddatapipeline_spark.streaming.cdc import cdc_publish, current_state

        scenes, maps = {}, {}
        for c in self.cycles_applied:
            batch = self.expected["maps_by_cycle"][c]
            agg: dict = {}
            for scene, name, key, size in batch:
                maps[(scene, name)] = key
                n, total = agg.get(scene, (0, 0))
                agg[scene] = (n + 1, total + size)
            scenes.update(agg)
        want_scenes = {(s, n, t) for s, (n, t) in scenes.items()}
        want_maps = {(s, m, k) for (s, m), k in maps.items()}

        live = {k: ("new", -1, "I") for k in self.expected["cdc_snapshot"]}
        for c in self.cycles_applied:
            for key, status, op, seq in self.expected["cdc_changes"][c]:
                if key not in live or seq > live[key][1]:
                    live[key] = (status, seq, op)
        want_cdc = {(k, v[0]) for k, v in live.items() if v[2] != "D"}
        got_cdc = {tuple(r) for r in cdc_publish(
            current_state(self.spark, self.cdc_state), seq_cols=["seq"]
        ).select("scene_name", "status").collect()}

        wrong = [
            self._table_rows(self.scenes_path, ["scene_name", "file_count", "total_size_bytes"])
            != want_scenes,
            self._table_rows(self.maps_path, ["scene_name", "map_name", "map_path"]) != want_maps,
            self._table_rows(self.sequences_path, ["sequence_name", "map_name"])
            != set(self.sequence_rows),
            got_cdc != want_cdc,
            len(set(self.fingerprints)) != 1,
        ]
        return sum(wrong), len(wrong)

    def disk_bytes(self) -> tuple[int, int]:
        """(bytes on disk under the catalog tables, bytes of their live
        versions)."""
        total = live = 0
        for table in (self.scenes_path, self.maps_path, self.sequences_path):
            with open(os.path.join(table, "_CURRENT")) as fh:
                cur = os.path.join(table, fh.read().strip())
            for d, _, files in os.walk(table):
                size = sum(os.path.getsize(os.path.join(d, f)) for f in files)
                total += size
                if d == cur or d.startswith(cur + os.sep):
                    live += size
        return total, live


def make(name: str, spark, run_dir: str):
    if name == "catalog_jobs":
        return CatalogJobs(spark, run_dir)
    return QueryMix(spark, run_dir, QUERY_MIXES[name])
