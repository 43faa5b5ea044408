"""End-to-end pipeline: correctness (P/R vs golden), lineage, resume,
warehouse commits."""

import os

import pytest
from pyspark.sql import functions as F

from trustgraph_spark.pipeline import MANIFEST, Pipeline, PipelineConfig, Warehouse
from trustgraph_spark.synth import golden_triple_set


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_pipeline_end_to_end(spark, tiny_transcripts, warehouse):
    pipe = Pipeline(spark, PipelineConfig(warehouse=warehouse))
    out = pipe.run(tiny_transcripts, run_id="r1")

    # content triples (default graph) match golden set exactly
    content = out["edges"].where(F.col("g") == "")
    got = {(r.s, r.p, r.o, r.otype) for r in content.collect()}
    src = tiny_transcripts.select("conv_id", "turn_idx", "text").collect()
    golden = golden_triple_set([(r.conv_id, r.turn_idx, r.text) for r in src])
    tp = len(got & golden)
    assert tp / len(got) == 1.0
    assert tp / len(golden) == 1.0

    # provenance present in the source graph
    assert out["edges"].where(F.col("g") == "urn:graph:source").count() > 0
    # node/quad tables materialized
    assert out["nodes"].count() > 0
    assert out["quads_by_entity"].count() > out["edges"].count()

    # per-stage lineage recorded with metrics
    lineage = pipe.wh.lineage()
    stages = {l["stage"] for l in lineage}
    assert {"chunks", "extractions", "content_triples",
            "edges", "quads_by_entity", "nodes"} <= stages
    assert all(l["output_rows"] >= 0 and l["wall_sec"] >= 0 for l in lineage)


def test_pipeline_resume_skips_unchanged(spark, tiny_transcripts, warehouse):
    pipe1 = Pipeline(spark, PipelineConfig(warehouse=warehouse))
    out1 = pipe1.run(tiny_transcripts, run_id="r1")
    e1 = {(r.s, r.p, r.o) for r in out1["edges"].collect()}

    # second run over the same input: every stage skips
    pipe2 = Pipeline(spark, PipelineConfig(warehouse=warehouse))
    out2 = pipe2.run(tiny_transcripts, run_id="r2")
    assert all(m.get("skipped") for m in pipe2.metrics.values()), pipe2.metrics
    e2 = {(r.s, r.p, r.o) for r in out2["edges"].collect()}
    assert e1 == e2


def test_pipeline_resume_reruns_on_changed_input(spark, tiny_transcripts, warehouse):
    pipe1 = Pipeline(spark, PipelineConfig(warehouse=warehouse, with_provenance=False))
    pipe1.run(tiny_transcripts, run_id="r1")

    changed = tiny_transcripts.where(F.col("conv_id") != "conv-00001")
    pipe2 = Pipeline(spark, PipelineConfig(warehouse=warehouse, with_provenance=False))
    out2 = pipe2.run(changed, run_id="r2")
    assert pipe2.metrics["chunks"]["skipped"] is False
    # dropped conversation's chunks are gone
    assert out2["chunks"].where(F.col("root_id") == "conv-00001").count() == 0


def test_config_change_invalidates_checkpoints(spark, tiny_transcripts, warehouse):
    pipe1 = Pipeline(spark, PipelineConfig(warehouse=warehouse, linking_threshold=0.95))
    pipe1.run(tiny_transcripts, run_id="r1")

    # different linking threshold: linking-dependent stages must re-run
    pipe2 = Pipeline(spark, PipelineConfig(warehouse=warehouse, linking_threshold=0.5))
    pipe2.run(tiny_transcripts, run_id="r2")
    assert pipe2.metrics["canonical_mapping"]["skipped"] is False
    assert pipe2.metrics["edges"]["skipped"] is False


def test_per_partition_lineage(spark, tiny_transcripts, warehouse):
    import json as _json

    pipe = Pipeline(spark, PipelineConfig(warehouse=warehouse, with_linking=False))
    pipe.run(tiny_transcripts, run_id="r1")
    lineage = pipe.wh.lineage()
    for rec in lineage:
        extra = _json.loads(rec["extra"])
        parts = extra.get("partitions")
        assert parts is not None and len(parts) >= 1
        assert sum(n for _, n in parts) == rec["output_rows"]


TABLES = ["chunks", "extractions", "content_triples", "entity_contexts",
          "provenance_triples", "canonical_mapping", "edges",
          "quads_by_entity", "nodes"]


@pytest.fixture(scope="module")
def checkpointed_runs(spark, tiny_transcripts, tmp_path_factory):
    """A cold checkpointed run (linking and provenance on) and its
    skip-everything rerun, from a caller thread in its own job group.
    Returns (warehouse, [(metrics, caller-group jobs, caller group after)])."""
    sc = spark.sparkContext
    wh = str(tmp_path_factory.mktemp("ckpt") / "wh")
    runs = []
    for run_id in ("cold", "rerun"):
        group = f"test-caller-{run_id}"
        sc.setJobGroup(group, "caller")
        try:
            pipe = Pipeline(spark, PipelineConfig(warehouse=wh))
            pipe.run(tiny_transcripts, run_id=run_id)
            after = sc.getLocalProperty("spark.jobGroup.id")
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            outside = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                sc.setLocalProperty(k, None)
        runs.append((pipe.metrics, outside, after))
    return wh, runs


def test_checkpointed_run_job_budget(checkpointed_runs):
    """Every job of the run is attributed to a stage, the caller's job
    group is restored, and the cold run stays within its measured job
    total: one write job per stage plus the root fingerprint and the
    stages' own exchanges and linking checkpoint (51 jobs before the
    warehouse manifest and the single-exchange linking)."""
    _, [(metrics, outside, after), _] = checkpointed_runs
    assert outside == 0
    assert after == "test-caller-cold"
    assert set(metrics) == set(TABLES)
    assert sum(m["jobs"] for m in metrics.values()) <= 18, metrics


def test_skip_rerun_issues_only_root_fingerprint_jobs(checkpointed_runs):
    _, [_, (metrics, outside, _)] = checkpointed_runs
    assert all(m["skipped"] for m in metrics.values())
    assert outside == 0
    assert metrics["chunks"]["jobs"] >= 1
    assert all(m["jobs"] == 0 for s, m in metrics.items() if s != "chunks"), metrics


def test_manifest_describes_tables(spark, checkpointed_runs, tmp_path):
    """The manifest's schema is the schema Spark infers from the files and
    its row total is the table's count, for every pipeline table and for
    a partitioned write."""
    wh = Warehouse(spark, checkpointed_runs[0])
    part = Warehouse(spark, str(tmp_path / "part"))
    part.write(spark.createDataFrame(
        [("cola", "s1", 1), ("colb", "s2", 2), ("colb", "s3", 3)],
        "collection string, s string, n long"), "triples_rt", partition_by=["collection"])
    for w, t in [(wh, t) for t in TABLES] + [(part, "triples_rt")]:
        inferred = spark.read.parquet(w.path(t))
        assert w.read(t).schema == inferred.schema, t
        assert sum(n for _, n in w.manifest(t)["files"]) == inferred.count(), t


def test_table_without_manifest_is_absent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.range(3), "t")
    assert wh.exists("t")
    os.remove(os.path.join(wh.path("t"), MANIFEST))
    assert not wh.exists("t")


def test_failed_swap_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """A commit whose final rename fails leaves the previous snapshot and
    its manifest readable."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.range(3), "t")
    real_replace = os.replace

    def failing_replace(src, dst):
        if str(src).endswith(".__tmp__"):
            raise OSError("injected rename failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        wh.write(spark.range(5), "t")
    monkeypatch.undo()
    assert wh.exists("t")
    assert sorted(r.id for r in wh.read("t").collect()) == [0, 1, 2]
    assert sum(n for _, n in wh.manifest("t")["files"]) == 3
