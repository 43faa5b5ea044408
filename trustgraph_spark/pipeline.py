"""End-to-end KG-construction pipeline with lineage + checkpoint resume.

The Spark shape of the reference ingest dataflow (SURVEY.md §3.1):

    transcripts -> chunks -> extract (definitions ∪ relationships)
    -> [provenance] -> link/canonicalize -> materialize
       edges / quads_by_entity / nodes / entity_contexts

Each stage writes a parquet "table" under a warehouse directory (stand-in
for Iceberg — the Iceberg runtime jar is not in this image). A snapshot is
the data files plus a `_manifest.json` holding the written schema and each
file's footer row count, renamed into place together: the manifest is what
an Iceberg snapshot's manifest list is, so reading a table, its row count
and its per-file histogram cost no Spark job. The manifest's name starts
with `_`, so Spark and pyarrow skip it when they list data files. A table
without a manifest counts as absent, so a warehouse written before
manifests existed recomputes its stages. Each stage also writes a
`_lineage` row keyed by (run stage, input fingerprint). A rerun
whose stage inputs are unchanged skips the stage and reuses its output —
checkpoint-based resumability per the north_rule. The reference analog is
per-processor Prometheus metrics + librarian-tracked document state
(extract/kg/extract_metrics.py:4-27).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.chunking import assemble_turn_chunks
from .operators.extract import (
    Extractor,
    RuleExtractor,
    definitions_entity_contexts,
    definitions_to_triples,
    extract_all,
    relationships_to_triples,
    split_extractions,
)
from .operators.linking import canonical_mapping, canonicalize_triples
from .operators.materialize import (
    materialize_edges,
    materialize_nodes,
    materialize_quads_by_entity,
)
from .operators.provenance import subgraph_provenance_triples

LINEAGE_DIR = "_lineage"
MANIFEST = "_manifest.json"


def _partition_histogram(df: DataFrame) -> list[list[int]]:
    """Per-partition row counts [[partition_id, rows], ...] — the
    per-partition lineage record (north_rule). One cheap aggregate over the
    already-materialized stage output."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [[int(r.pid), int(r["count"])] for r in rows]


def _write_manifest(table_dir: str, schema: T.StructType) -> None:
    """Describe a written parquet directory: the schema and every data
    file (relative path, footer row count), read on the driver from the
    parquet footers — no Spark job, no data scan."""
    files = []
    for dirpath, dirnames, filenames in os.walk(table_dir):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for name in sorted(filenames):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                path = os.path.join(dirpath, name)
                files.append([os.path.relpath(path, table_dir),
                              pq.ParquetFile(path).metadata.num_rows])
    with open(os.path.join(table_dir, MANIFEST), "w") as f:
        json.dump({"schema": schema.jsonValue(), "files": files}, f)


_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def _job_group(spark: SparkSession, group: str):
    """Run the body's Spark jobs in ``group``, then restore the calling
    thread's own job group and description.  Yields a callable that,
    after the body, returns how many jobs the body started in the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(set(tracker.getJobIdsForGroup(group)) - before)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        # the status store is fed by the listener bus; drain it so the
        # count includes the body's last job
        sc._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class PipelineConfig:
    warehouse: str
    collection: str = "default"
    with_provenance: bool = True
    with_linking: bool = True
    linking_threshold: float = 0.95
    extractor: Extractor = field(default_factory=RuleExtractor)
    # partitions for the big shuffle stages; on a cluster: ~2-3x total cores
    shuffle_partitions: int | None = None
    # True: every stage commits to the warehouse (resumable, the production
    # default). False: stages persist in memory/disk cache only — the
    # compute-bound path for throughput benchmarking; lineage/metrics are
    # still recorded per stage.
    checkpointing: bool = True
    # per-stage per-partition row histograms in the lineage log. Diagnostic
    # metadata: each histogram is an extra driver job (groupBy + collect)
    # per stage — a fixed serial cost that Amdahl-caps scaling on short
    # stages. Disable for throughput runs.
    lineage_histograms: bool = True


def _fingerprint_df(df: DataFrame) -> str:
    """Source fingerprint: hash of the analyzed plan string (normalized of
    session-global expression ids) + row count + input-file metadata
    (path, size, mtime per file from the FileIndex) so overwriting an input
    in place with different data of equal row count still invalidates the
    checkpoint. The count on a parquet source is footer-metadata-only.
    With Iceberg this would simply be the input snapshot id."""
    plan = df._jdf.queryExecution().analyzed().toString()
    # strip session-global expression ids (#123) — not content
    plan = re.sub(r"#\d+", "#", plan)
    n = df.count()
    files = []
    for uri in sorted(df.inputFiles()):
        path = uri[7:] if uri.startswith("file:") and uri[5:7] == "//" else uri
        path = path[5:] if path.startswith("file:") else path
        try:
            st = os.stat(path)
            files.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            files.append(path)
    return hashlib.sha256(
        "|".join([plan, str(n), *files]).encode()
    ).hexdigest()[:16]


class Warehouse:
    """Parquet-backed table namespace with snapshot commits and a lineage
    log. API mirrors what an Iceberg catalog would provide.

    A committed table is a directory holding the data files and
    ``_manifest.json``: the written frame's schema and each data file's
    footer row count.  ``write`` builds the snapshot in a temp dir and
    swaps it in by renames; at every instant ``path(table)`` holds either
    the previous snapshot or the new one, never a mix.  ``exists``
    and ``read`` consult only the manifest."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.exists(os.path.join(self.path(table), MANIFEST))

    def manifest(self, table: str) -> dict:
        with open(os.path.join(self.path(table), MANIFEST)) as f:
            return json.load(f)

    def read(self, table: str) -> DataFrame:
        """The committed snapshot, with the manifest's schema: no
        schema-inference job."""
        schema = T.StructType.fromJson(self.manifest(table)["schema"])
        return self.spark.read.schema(schema).parquet(self.path(table))

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        final = self.path(table)
        tmp = final + ".__tmp__"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        _write_manifest(tmp, df.schema)
        self._swap(tmp, final)

    @staticmethod
    def _swap(tmp: str, final: str) -> None:
        """Rename-swap commit: the previous snapshot moves aside, the new
        one moves in, then the previous one is deleted.  If moving the new
        one in fails, the previous one is moved back; a process killed
        between the two renames leaves it complete at ``<table>.__old__``."""
        old = final + ".__old__"
        if os.path.exists(old):
            shutil.rmtree(old)
        had_previous = os.path.exists(final)
        if had_previous:
            os.replace(final, old)
        try:
            os.replace(tmp, final)
        except BaseException:
            if had_previous:
                os.replace(old, final)
            raise
        if had_previous:
            shutil.rmtree(old)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        buckets: int = 64,
        sort_cols: list[str] | None = None,
    ) -> DataFrame:
        """Hash-bucketed catalog table at this warehouse path — the Spark
        analog of the reference's entity-PK Cassandra layout
        (direct/cassandra_kg.py:744-802): joins and aggregations keyed on
        the bucket columns read co-located buckets and skip the shuffle
        entirely (no Exchange in the plan — asserted in test_plans).
        Bucket metadata lives in the session catalog (an Iceberg/Hive
        metastore would persist it across sessions); the parquet files are
        external at ``path(table)``. Returns the catalog-backed DataFrame
        — read it with ``spark.table(table)``, not ``read()`` (a plain
        parquet read loses the bucketing info)."""
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        final = self.path(table)
        if os.path.exists(final):
            shutil.rmtree(final)
        w = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, *bucket_cols)
            .option("path", final)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(table)
        return self.spark.table(table)

    # --- lineage ---

    def _lineage_path(self) -> str:
        return os.path.join(self.root, LINEAGE_DIR)

    def log_lineage(self, run_id: str, stage: str, fingerprint: str,
                    rows: int, partitions: int, wall: float, extra: dict | None = None):
        rec = {
            "run_id": run_id,
            "stage": stage,
            "input_fingerprint": fingerprint,
            "output_rows": rows,
            "num_partitions": partitions,
            "wall_sec": round(wall, 3),
            "extra": json.dumps(extra or {}),
        }
        os.makedirs(self._lineage_path(), exist_ok=True)
        fname = os.path.join(self._lineage_path(), f"{stage}.json")
        with open(fname, "w") as f:
            json.dump(rec, f)

    def stage_lineage(self, stage: str) -> dict | None:
        fname = os.path.join(self._lineage_path(), f"{stage}.json")
        if not os.path.exists(fname):
            return None
        with open(fname) as f:
            return json.load(f)

    def lineage(self) -> list[dict]:
        out = []
        d = self._lineage_path()
        if os.path.isdir(d):
            for fn in sorted(os.listdir(d)):
                with open(os.path.join(d, fn)) as f:
                    out.append(json.load(f))
        return out


class Pipeline:
    """Stage-wise runner: each stage is (name, input fingerprint, builder).
    If the warehouse already holds the stage output for the same input
    fingerprint, the stage is skipped and the stored output is reused —
    resume-from-checkpoint after interruption or partial failure."""

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config
        self.wh = Warehouse(spark, config.warehouse)
        self.metrics: dict[str, dict] = {}
        # stage -> output fingerprint (chained: input fp + stage + rows)
        self._stage_fps: dict[str, str] = {}
        # config participates in every stage fingerprint: changing e.g. the
        # linking threshold or the extractor must invalidate downstream
        # checkpoints, not silently reuse them
        self._cfg_fp = hashlib.sha256(
            "|".join(
                [
                    config.collection,
                    str(config.with_provenance),
                    str(config.with_linking),
                    str(config.linking_threshold),
                    type(config.extractor).__qualname__,
                ]
            ).encode()
        ).hexdigest()[:12]

    def _run_stage(
        self,
        run_id: str,
        stage: str,
        input_df: DataFrame,
        build,
        deps: list[str] | None = None,
    ) -> DataFrame:
        """deps: upstream stage names whose output fingerprints identify
        this stage's input; stages with no deps (roots) fingerprint the
        input DataFrame itself. The stage's Spark jobs run in job group
        ``pipeline:<stage>`` and their count lands in
        ``metrics[stage]["jobs"]``."""
        with _job_group(self.spark, f"pipeline:{stage}") as jobs:
            out = self._stage(run_id, stage, input_df, build, deps)
        self.metrics[stage]["jobs"] = jobs()
        return out

    def _stage(self, run_id, stage, input_df, build, deps) -> DataFrame:
        if deps:
            fp_in = ":".join(f"{d}={self._stage_fps[d]}" for d in deps)
        else:
            fp_in = _fingerprint_df(input_df)
        fp = hashlib.sha256(f"{stage}|{self._cfg_fp}|{fp_in}".encode()).hexdigest()[:16]

        if not self.config.checkpointing:
            from pyspark import StorageLevel

            t0 = time.monotonic()
            out = build(input_df).persist(StorageLevel.MEMORY_AND_DISK)
            rows = out.count()
            wall = time.monotonic() - t0
            # plan barrier: Dataset.union flattens nested Unions EAGERLY at
            # construction, so a cached stage whose plan root is a Union
            # would never match its cache entry when unioned downstream —
            # silently re-executing the extraction UDFs. Filter(true) blocks
            # the flattening; the optimizer removes it after cache lookup.
            out = out.where(F.lit(True))
            extra = (
                {"partitions": _partition_histogram(out)}
                if self.config.lineage_histograms else {}
            )
            self.wh.log_lineage(
                run_id, stage, fp, rows, out.rdd.getNumPartitions(), wall,
                extra=extra,
            )
            self.metrics[stage] = {"skipped": False, "rows": rows, "wall_sec": round(wall, 3)}
            self._stage_fps[stage] = hashlib.sha256(
                f"{fp}|{rows}".encode()
            ).hexdigest()[:16]
            return out

        prev = self.wh.stage_lineage(stage)
        if prev and prev["input_fingerprint"] == fp and self.wh.exists(stage):
            self.metrics[stage] = {"skipped": True, "rows": prev["output_rows"]}
            self._stage_fps[stage] = hashlib.sha256(
                f"{fp}|{prev['output_rows']}".encode()
            ).hexdigest()[:16]
            return self.wh.read(stage)

        t0 = time.monotonic()
        self.wh.write(build(input_df), stage)
        stored = self.wh.read(stage)
        files = self.wh.manifest(stage)["files"]
        rows = sum(n for _, n in files)
        wall = time.monotonic() - t0
        extra = (
            {"partitions": [[i, n] for i, (_, n) in enumerate(files)]}
            if self.config.lineage_histograms else {}
        )
        # a checkpointed stage's partitions are its snapshot's data files
        self.wh.log_lineage(run_id, stage, fp, rows, len(files), wall, extra=extra)
        self.metrics[stage] = {"skipped": False, "rows": rows, "wall_sec": round(wall, 3)}
        self._stage_fps[stage] = hashlib.sha256(
            f"{fp}|{rows}".encode()
        ).hexdigest()[:16]
        return stored

    def _parallel_stages(self, *thunks):
        """Run INDEPENDENT stages concurrently from driver threads: Spark
        accepts job submissions from multiple threads, so a wide stage
        fills the executor slots a convergence-probe-bound stage (the CC
        loop's small per-round jobs) leaves idle.  Back-to-back stage
        submission is the pipeline's Amdahl term in the pinned scaling
        runs — overlap attacks it directly.  Each thunk writes distinct
        metrics/_stage_fps keys and distinct warehouse paths, so the only
        shared driver state is dict insertion (GIL-atomic)."""
        from concurrent.futures import ThreadPoolExecutor

        if len(thunks) == 1:
            return [thunks[0]()]
        with ThreadPoolExecutor(len(thunks)) as pool:
            futs = [pool.submit(t) for t in thunks]
            return [f.result() for f in futs]

    def run(self, transcripts: DataFrame, run_id: str = "run-0") -> dict[str, DataFrame]:
        cfg = self.config
        ex = cfg.extractor

        chunks = self._run_stage(
            run_id, "chunks", transcripts,
            lambda df: assemble_turn_chunks(df, cfg.collection),
        )

        extractions = self._run_stage(
            run_id, "extractions", chunks,
            lambda df: extract_all(df, ex), deps=["chunks"],
        )
        defs, rels = split_extractions(extractions)

        content, ec = self._parallel_stages(
            lambda: self._run_stage(
                run_id, "content_triples", extractions,
                lambda _: definitions_to_triples(defs).unionByName(
                    relationships_to_triples(rels)
                ),
                deps=["extractions"],
            ),
            lambda: self._run_stage(
                run_id, "entity_contexts", defs,
                lambda df: definitions_entity_contexts(df),
                deps=["extractions"],
            ),
        )

        triples = content
        triple_deps = ["content_triples"]
        # provenance (wide, embarrassingly parallel) overlaps the linking
        # CC fixpoint (sequential small rounds) — the single biggest
        # serial-fraction win: CC's convergence probes no longer stall
        # the whole cluster
        par: list = []
        if cfg.with_provenance:
            par.append(
                lambda: self._run_stage(
                    run_id, "provenance_triples", content,
                    lambda df: subgraph_provenance_triples(df, "kg-extract"),
                    deps=["content_triples"],
                )
            )
        if cfg.with_linking:
            par.append(
                lambda: self._run_stage(
                    run_id, "canonical_mapping", content,
                    lambda df: canonical_mapping(
                        df, threshold=cfg.linking_threshold
                    ),
                    deps=["content_triples"],
                )
            )
        results = self._parallel_stages(*par) if par else []
        i = 0
        if cfg.with_provenance:
            prov = results[i]
            i += 1
            triples = content.unionByName(prov)
            triple_deps.append("provenance_triples")
        if cfg.with_linking:
            mapping = results[i]
            triples = canonicalize_triples(triples, mapping)
            triple_deps.append("canonical_mapping")

        edges = self._run_stage(
            run_id, "edges", triples, materialize_edges, deps=triple_deps
        )
        quads, nodes = self._parallel_stages(
            lambda: self._run_stage(
                run_id, "quads_by_entity", edges, materialize_quads_by_entity,
                deps=["edges"],
            ),
            lambda: self._run_stage(
                run_id, "nodes", edges, materialize_nodes, deps=["edges"]
            ),
        )

        return {
            "chunks": chunks,
            "entity_contexts": ec,
            "edges": edges,
            "quads_by_entity": quads,
            "nodes": nodes,
        }


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, warehouse: str, **kwargs
) -> dict[str, DataFrame]:
    cfg = PipelineConfig(warehouse=warehouse, **kwargs)
    return Pipeline(spark, cfg).run(transcripts)
