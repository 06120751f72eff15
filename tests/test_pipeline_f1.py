"""End-to-end parity gate: pairwise F1 >= 0.99 on the labeled fixture at
identical blocking keys (BASELINE.json metric), plus resume equality at
every checkpoint boundary and the refused resume on changed inputs."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import pyspark.sql.functions as F

from namedis_spark import pipeline
from namedis_spark.datagen import generate_transcripts
from namedis_spark.operators.scoring import ScoringParams
from namedis_spark.sources.checkpoint import CheckpointStore


@pytest.fixture(scope="module")
def fixture_data(spark):
    t, l = generate_transcripts(spark, n_blocks=4, seed=42, hot_blocks=0)
    t.cache().count()
    l.cache().count()
    return t, l


@pytest.fixture(scope="module")
def fixture_seeds(fixture_data):
    """For each entity in the fixture, its two lowest conv_ids."""
    _, l = fixture_data
    w = l.groupBy("entity_id").agg(
        F.sort_array(F.collect_list("conv_id")).alias("cs")
    )
    return (
        w.where(F.size("cs") >= 2)
        .select(
            F.col("entity_id").cast("string").alias("seed_id"),
            F.explode(F.slice("cs", 1, 2)).alias("conv_id"),
        )
        .select("conv_id", "seed_id")
    )


def _sorted_rows(df):
    return sorted(map(tuple, df.select("block_key", "conv_id", "cluster_id").collect()))


@pytest.fixture(scope="module")
def full_runs(spark, fixture_data, fixture_seeds, tmp_path_factory):
    """One uninterrupted run per mode, shared by the tests below:
    mode -> (checkpoint dir, PipelineResult, sorted assignment rows)."""
    t, l = fixture_data
    runs = {}
    for mode, seeds in (("unseeded", None), ("seeded", fixture_seeds)):
        ckpt = str(tmp_path_factory.mktemp(f"ckpt_{mode}"))
        res = pipeline.run(spark, t, ckpt, labels=l, seeds=seeds)
        runs[mode] = (ckpt, res, _sorted_rows(res.assignments))
    return runs


def test_pipeline_f1_above_099(full_runs):
    m = full_runs["unseeded"][1].metrics
    assert m["macro_f1"] >= 0.99, m
    assert m["micro_f1"] >= 0.99, m
    assert m["macro_p"] >= 0.99, m


def test_pipeline_resume_identical_assignments(spark, fixture_data, full_runs, tmp_path):
    """Re-entering the pipeline from checkpoints yields byte-identical
    final clusters (FIXTURES.md §5.4)."""
    t, _ = fixture_data
    full_ckpt, _, want = full_runs["unseeded"]
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(full_ckpt, ckpt)
    # wipe the final assignment snapshot and resume: features/scored/cc
    # rounds are reused, result must be identical
    shutil.rmtree(f"{ckpt}/assignments")
    second = pipeline.run(spark, t, ckpt, labels=None, resume=True)
    assert _sorted_rows(second.assignments) == want


# ---------------------------------------------------------------------------
# crash/resume boundary matrix
# ---------------------------------------------------------------------------


def _boundaries(ckpt: str) -> list[tuple[str, str]]:
    """(resumed_from name, snapshot dir) of every committed round, in
    pipeline order."""
    out = []
    for stage in pipeline.STAGES:
        base = os.path.join(ckpt, stage)
        if not os.path.isdir(base):
            continue
        for d in sorted(os.listdir(base)):
            if os.path.exists(os.path.join(base, d, "_SUCCESS")):
                name = f"cc:{int(d.split('=')[1])}" if stage == "cc" else stage
                out.append((name, os.path.join(base, d)))
    return out


def _committed_files(ckpt: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file in a committed snapshot."""
    out = {}
    for _, snap in _boundaries(ckpt):
        for f in os.listdir(snap):
            st = os.stat(os.path.join(snap, f))
            out[os.path.join(snap, f)] = (st.st_size, st.st_mtime_ns)
    return out


MATRIX = [
    (mode, boundary)
    for mode in ("unseeded", "seeded")
    for boundary in ("features", "scored", "seed_merge", "cc", "assignments", "torn")
    if not (mode == "unseeded" and boundary == "seed_merge")
]


@pytest.mark.parametrize("mode,boundary", MATRIX, ids=["-".join(c) for c in MATRIX])
def test_resume_boundary_matrix(
    spark, fixture_data, fixture_seeds, full_runs, tmp_path, mode, boundary
):
    """Kill the run at each checkpoint boundary (every later snapshot gone),
    or tear its last write (files without _SUCCESS): resume re-enters at
    that boundary, rewrites no committed snapshot and reproduces the
    uninterrupted run's assignments."""
    t, _ = fixture_data
    seeds = fixture_seeds if mode == "seeded" else None
    full_ckpt, _, want = full_runs[mode]
    bounds = _boundaries(full_ckpt)
    names = [n for n, _ in bounds]
    if boundary == "torn":
        cuts = [(len(names) - 1, names[-2])]
    elif boundary == "cc":
        cuts = [(i + 1, n) for i, n in enumerate(names) if n.startswith("cc:")]
    else:
        cuts = [(names.index(boundary) + 1, boundary)]
    assert cuts, names
    for keep, expect in cuts:
        ckpt = str(tmp_path / f"ckpt_{keep}")
        shutil.copytree(full_ckpt, ckpt)
        for _, snap in _boundaries(ckpt)[keep:]:
            if boundary == "torn":
                os.remove(os.path.join(snap, "_SUCCESS"))
            else:
                shutil.rmtree(snap)
        before = _committed_files(ckpt)

        res = pipeline.run(spark, t, ckpt, resume=True, seeds=seeds)
        got = _sorted_rows(res.assignments)

        assert res.resumed_from == expect
        assert got == want, f"resume at {expect} changed the assignments"
        after = _committed_files(ckpt)
        assert {p: after.get(p) for p in before} == before, (
            f"resume at {expect} rewrote a committed snapshot"
        )


def test_resume_of_committed_run_runs_no_spark_job(spark, fixture_data, full_runs):
    t, _ = fixture_data
    ckpt, _, want = full_runs["unseeded"]
    sc = spark.sparkContext
    sc.setJobGroup("resume-committed", "resume of a committed run")
    try:
        res = pipeline.run(spark, t, ckpt, resume=True)
        jobs = sc.statusTracker().getJobIdsForGroup("resume-committed")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.resumed_from == "assignments"
    assert jobs == []
    assert _sorted_rows(res.assignments) == want


# ---------------------------------------------------------------------------
# refused resume: the input fingerprint in manifest.json
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("change", ["transcripts", "threshold", "seeds", "filtered"])
def test_resume_with_changed_inputs_is_refused(
    spark, fixture_data, fixture_seeds, full_runs, change, tmp_path
):
    t, _ = fixture_data
    ckpt = full_runs["unseeded"][0]
    kw = {}
    if change == "transcripts":
        t = generate_transcripts(spark, n_blocks=4, seed=43, hot_blocks=0)[0]
    elif change == "threshold":
        kw["params"] = ScoringParams(threshold=0.7)
    elif change == "seeds":
        kw["seeds"] = fixture_seeds
    else:
        # a store fingerprinted on parquet transcripts, resumed on the same
        # files behind a filter: the file list matches, the plan does not
        path = str(tmp_path / "t")
        t.write.parquet(path)
        ckpt = str(tmp_path / "ckpt")
        CheckpointStore(spark, ckpt).write_manifest(
            pipeline.input_fingerprint(
                spark.read.parquet(path), ScoringParams(), 3, False
            )
        )
        t = spark.read.parquet(path).where(F.col("turn_idx") > 0)
    field = {"threshold": "params", "seeds": "seeded"}.get(change, "transcripts")
    with pytest.raises(pipeline.ResumeMismatchError, match=f"manifest.json in {field}"):
        pipeline.run(spark, t, ckpt, resume=True, **kw)


def test_resume_without_manifest_is_refused(spark, fixture_data, full_runs, tmp_path):
    t, _ = fixture_data
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(full_runs["unseeded"][0], ckpt)
    os.remove(os.path.join(ckpt, "manifest.json"))
    with pytest.raises(pipeline.ResumeMismatchError, match="no manifest.json"):
        pipeline.run(spark, t, ckpt, resume=True)


def test_file_backed_fingerprint_tracks_files(spark, fixture_data, tmp_path):
    """Parquet transcripts are fingerprinted by their files: the same files
    read again match, rewritten files do not."""
    t, _ = fixture_data
    path = str(tmp_path / "t")
    t.write.parquet(path)

    def fp():
        return pipeline.input_fingerprint(
            spark.read.parquet(path), ScoringParams(), 3, False
        )

    first = fp()
    assert first["transcripts"] and first == fp()
    t.write.mode("overwrite").parquet(path)
    assert fp()["transcripts"] != first["transcripts"]


def test_file_backed_fingerprint_is_stable_across_processes(
    spark, fixture_data, tmp_path
):
    """The same parquet read in a new driver process fingerprints the same,
    so a resume from another process is accepted."""
    t, _ = fixture_data
    path = str(tmp_path / "t")
    t.write.parquet(path)
    here = pipeline.input_fingerprint(
        spark.read.parquet(path), ScoringParams(), 3, False
    )
    code = (
        "import json, sys\n"
        "from namedis_spark import pipeline\n"
        "from namedis_spark.operators.scoring import ScoringParams\n"
        "from namedis_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "fp = pipeline.input_fingerprint(\n"
        "    spark.read.parquet(sys.argv[1]), ScoringParams(), 3, False)\n"
        "print('FP=' + json.dumps(fp))\n"
        "spark.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code, path],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("FP="))
    assert json.loads(line[3:]) == here


def test_pipeline_determinism_two_runs(spark, fixture_data, full_runs, tmp_path_factory):
    t, _ = fixture_data
    r2 = pipeline.run(spark, t, str(tmp_path_factory.mktemp("d2")))
    assert _sorted_rows(r2.assignments) == full_runs["unseeded"][2]


def test_pipeline_with_seeds_coclusters_seed_members(spark, fixture_seeds, full_runs):
    """Groundtruth-seed pull (clust.pl:946-957): convs assigned to the
    same seed cluster must land in the same final cluster regardless of
    their stage-2 scores; the seed-merge table (with the `ambiguous`
    labeling-aid flag) is snapshotted; the seedless path is unchanged."""
    seeds = fixture_seeds
    ckpt, res, _ = full_runs["seeded"]

    # same-seed convs always co-clustered in the final assignment
    joined = (
        res.assignments.join(seeds, "conv_id")
        .groupBy("seed_id")
        .agg(F.countDistinct("cluster_id").alias("n"))
    )
    bad = joined.where("n > 1").count()
    assert bad == 0

    # the seed-merge snapshot exists and carries the ambiguity flag
    import glob

    snap = glob.glob(f"{ckpt}/seed_merge/round=00000/*.parquet")
    assert snap
    sm = spark.read.parquet(f"{ckpt}/seed_merge/round=00000")
    assert set(sm.columns) >= {"conv_id", "cluster_id", "is_seed", "ambiguous"}
    # seeds only help: F1 with seeds >= the seedless gate
    assert res.metrics["macro_f1"] >= 0.99


def test_pipeline_seeded_distinct_seeds_stay_separate(spark, tmp_path_factory):
    """Reference seeded composition (clust.pl:946-957): stage-1 coauthor
    merging is REPLACED by seedMergeSharingCoauthor, so two DISTINCT human
    seed clusters whose conversations pairwise share >=2 coauthors must NOT
    be re-merged by a stage1-only edge; only stage-2 similarity could join
    them, and here the >6-year gap zeroes the year discount."""
    import datetime

    import pyspark.sql.functions as F

    from namedis_spark import pipeline

    def turns(conv, year, texts):
        ts = datetime.datetime(year, 6, 1)
        rows = [(conv, 0, "Wei Wang", texts[0], None, ts)]
        for i, co in enumerate(["Xia Chen", "Yan Li"]):
            rows.append((conv, i + 1, co, texts[(i + 1) % len(texts)], None, ts))
        return rows

    rows = []
    rows += turns("c1", 2000, ["alpha retrieval corpus", "alpha ranking"])
    rows += turns("c2", 2000, ["alpha retrieval corpus", "alpha ranking"])
    rows += turns("c3", 2020, ["zeta robotics actuator", "zeta gripper"])
    rows += turns("c4", 2020, ["zeta robotics actuator", "zeta gripper"])
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    seeds = spark.createDataFrame(
        [("c1", "S1"), ("c2", "S1"), ("c3", "S2"), ("c4", "S2")],
        "conv_id string, seed_id string",
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_seed_sep"))
    res = pipeline.run(spark, t, ckpt, seeds=seeds)
    a = {r["conv_id"]: r["cluster_id"] for r in res.assignments.collect()}
    # same-seed convs co-clustered ...
    assert a["c1"] == a["c2"]
    assert a["c3"] == a["c4"]
    # ... but the two seeds stay separate despite sharing both coauthors
    assert a["c1"] != a["c3"]
