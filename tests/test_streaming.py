"""Incremental (Structured Streaming) ER must converge to the batch
pipeline's answer: same match edges, same clusters, when conversations
arrive across multiple microbatches."""

import os
import re

import numpy as np
import pandas as pd
import pytest

from cutwed_spark.plans.pipeline import PipelineConfig, run_pipeline
from cutwed_spark.sources.synth import synth_corpus
from cutwed_spark.streaming.ingest import finalize, run_incremental

THRESHOLD = 0.5  # fixed: streaming has no labeled calibration


@pytest.fixture(scope="module")
def split_corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    tr, lab = synth_corpus(150)
    tr = tr.assign(ts=tr["ts"].astype("datetime64[us]"))
    # split whole conversations across two file drops
    convs = sorted(tr.conv_id.unique())
    half = set(convs[: len(convs) // 2])
    in_dir = root / "incoming"
    os.makedirs(in_dir)
    tr[tr.conv_id.isin(half)].to_parquet(in_dir / "drop1.parquet", index=False)
    tr[~tr.conv_id.isin(half)].to_parquet(in_dir / "drop2.parquet", index=False)
    return str(in_dir), str(root / "work"), tr, lab


def test_incremental_matches_batch(spark, split_corpus):
    in_dir, work_dir, tr, lab = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD)
    run_incremental(spark, in_dir, work_dir, cfg, max_files_per_trigger=1)
    s_edges, s_clusters = finalize(spark, work_dir, cfg)

    b = run_pipeline(spark, spark.createDataFrame(tr), cfg)
    batch_edges = {
        (r["conv_id_a"], r["conv_id_b"]) for r in b.edges.collect()
    }
    stream_edges = {
        (r["conv_id_a"], r["conv_id_b"]) for r in s_edges.collect()
    }
    assert stream_edges == batch_edges

    bc = {r["conv_id"]: r["cluster_id"] for r in b.clusters.collect()}
    sc = {r["conv_id"]: r["cluster_id"] for r in s_clusters.collect()}
    assert sc == bc


def test_state_version_guard(spark, split_corpus, tmp_path):
    """A state dir written by another signature family / schema version
    must be refused, not silently unioned (old-family signatures never
    band-collide with new ones -> silently missed duplicates)."""
    import json

    from cutwed_spark.streaming.ingest import check_state_version

    in_dir, work_dir, _, _ = split_corpus
    state = os.path.join(work_dir, "state")
    marker = os.path.join(state, "_state_version.json")
    assert os.path.isfile(marker)  # ingest wrote it
    check_state_version(state)  # current version: fine
    orig = open(marker).read()
    try:
        with open(marker, "w") as fh:
            json.dump({"signature_family_version": 1, "state_format": 1}, fh)
        with pytest.raises(ValueError, match="band-collide|version"):
            check_state_version(state)
    finally:
        with open(marker, "w") as fh:
            fh.write(orig)
    # unmarked dir with parquet = pre-versioning state -> refuse
    legacy = tmp_path / "legacy_state"
    os.makedirs(legacy)
    (legacy / "part-0.parquet").write_bytes(b"x")
    with pytest.raises(ValueError, match="predates"):
        check_state_version(str(legacy))


def test_incremental_scores_match_batch(spark, split_corpus):
    """Scores, not just edge sets: a pair scored in the stream must have
    the same twed as the batch path (same kernel, same state)."""
    in_dir, work_dir, tr, lab = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD)
    scored = spark.read.parquet(os.path.join(work_dir, "scored"))
    b = run_pipeline(spark, spark.createDataFrame(tr), cfg)
    j = (
        b.scored.select("conv_id_a", "conv_id_b", "twed")
        .join(
            scored.select(
                "conv_id_a", "conv_id_b", scored["twed"].alias("twed_s")
            ),
            ["conv_id_a", "conv_id_b"],
        )
        .collect()
    )
    assert len(j) > 0
    for r in j:
        assert np.isclose(r["twed"], r["twed_s"], rtol=1e-9), r


def _assemble(spark, tr, cfg):
    from cutwed_spark.operators.assemble import assemble_with_signatures

    return assemble_with_signatures(
        spark.createDataFrame(tr), cfg.n_buckets, cfg.max_turns,
        bucket_scale=cfg.bucket_scale, role_scale=cfg.role_scale,
        num_hashes=cfg.num_hashes, shingle_k=cfg.shingle_k,
    )


def test_incremental_candidates_scan_only_index(spark, split_corpus):
    """The per-batch candidate plan must scan only the new batch and the
    narrow block-key index — never the state table, and never re-derive
    old block keys (the O(total state) rescan the round-2 verdict
    flagged as the one genuine scale-killer)."""
    from cutwed_spark.streaming.ingest import _paths, incremental_candidates

    in_dir, work_dir, _, _ = split_corpus
    p = _paths(work_dir)
    assert os.path.isdir(p["keys"])  # ingest maintained the index
    cfg = PipelineConfig(threshold=THRESHOLD)
    tr_new, _ = synth_corpus(6, seed=7)
    tr_new = tr_new.assign(
        conv_id="newbatch_" + tr_new["conv_id"],
        ts=tr_new["ts"].astype("datetime64[us]"),
    )
    new_state = _assemble(spark, tr_new, cfg)
    cand, new_keys = incremental_candidates(spark, new_state, p, cfg)
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert p["keys"] in plan, "index scan missing from candidate plan"
    assert p["state"] + "]" not in plan and p["state"] + "/" not in plan and (
        p["state"] not in plan
    ), "candidate plan rescans the state table"
    # one scan of the index, at most one join (the left-semi restriction
    # to the batch's blocks), and a bounded block membership
    assert plan.count(p["keys"]) == 1, "candidate plan scans the index more than once"
    joins = set(re.findall(r"^\((\d+)\) \w*Join\b", plan, re.M))
    assert len(joins) <= 1, f"candidate plan holds {len(joins)} joins"
    assert "WindowGroupLimit" in plan, "block membership is unbounded"
    # and the candidates still work end-to-end for this batch
    assert cand.count() >= 0


def _expected_incremental_pairs(index_rows, new_rows, new_ids, max_block):
    """Candidate semantics in plain Python over collected rows: pairs
    inside a block the batch touches, with 2..max_block DISTINCT
    members, one side new."""
    touched = {r["block_key"] for r in new_rows}
    members: dict = {}
    for r in list(index_rows) + list(new_rows):
        if r["block_key"] in touched:
            members.setdefault(r["block_key"], set()).add(r["conv_id"])
    pairs = set()
    for m in members.values():
        if not 2 <= len(m) <= max_block:
            continue
        for a in m & new_ids:
            for b in m - {a}:
                pairs.add((min(a, b), max(a, b)))
    return pairs


@pytest.mark.parametrize("max_block", [2, 3, 64])
def test_incremental_candidates_match_python_pairs(spark, split_corpus, max_block):
    """The candidate set equals the plain-Python definition for a fresh
    batch, a near-duplicate-of-old batch, and a replayed batch whose
    keys are already in the index (distinct-member pruning must absorb
    the duplicated key rows). The batch path, where every key is new,
    must equal the same definition over the whole corpus."""
    from cutwed_spark.operators.blocking import (
        block_keys_from_state,
        build_candidate_pairs_from_state,
    )
    from cutwed_spark.streaming.ingest import _paths, incremental_candidates

    in_dir, work_dir, tr, _ = split_corpus
    p = _paths(work_dir)
    if not os.path.isdir(p["keys"]):
        run_incremental(spark, in_dir, work_dir,
                        PipelineConfig(threshold=THRESHOLD),
                        max_files_per_trigger=1)
    cfg = PipelineConfig(threshold=THRESHOLD, max_block=max_block)
    index_rows = spark.read.parquet(p["keys"]).collect()

    fresh, _ = synth_corpus(6, seed=7)
    fresh = fresh.assign(
        conv_id="fresh_" + fresh["conv_id"],
        ts=fresh["ts"].astype("datetime64[us]"),
    )
    # near duplicates: old conversations under new ids, last turn dropped
    old_ids = sorted(tr.conv_id.unique())[:8]
    near = tr[tr.conv_id.isin(old_ids)]
    last = near.groupby("conv_id")["turn_idx"].transform("max")
    near = near[(near.turn_idx < last) | (last == 0)]
    near = near.assign(conv_id="near_" + near["conv_id"])
    # replay: already-ingested conversations, same ids, same keys
    replay = tr[tr.conv_id.isin(sorted(tr.conv_id.unique())[-8:])]

    for name, batch in [("fresh", fresh), ("near", near), ("replay", replay)]:
        new_state = _assemble(spark, batch, cfg)
        cand, new_keys = incremental_candidates(spark, new_state, p, cfg)
        got = {(r["conv_id_a"], r["conv_id_b"]) for r in cand.collect()}
        assert len(got) == cand.count(), f"{name}: duplicate pairs"
        want = _expected_incremental_pairs(
            index_rows, new_keys.collect(), set(batch.conv_id), max_block
        )
        assert got == want, (name, len(got), len(want))
        if name != "fresh":
            assert want, f"{name}: batch shares no block with the index"

    state = _assemble(spark, tr, cfg)
    pairs, _ = build_candidate_pairs_from_state(
        state, cfg.band_size, cfg.num_hashes, max_block
    )
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}
    assert len(got) == pairs.count(), "batch: duplicate pairs"
    all_keys = block_keys_from_state(state, cfg.band_size, cfg.num_hashes).collect()
    want = _expected_incremental_pairs([], all_keys, set(tr.conv_id), max_block)
    assert want and got == want, ("batch", len(got), len(want))


def test_failed_batch_releases_caches(spark, tmp_path, monkeypatch):
    """A microbatch that raises mid-way must unpersist everything it
    persisted, not only on the success path."""
    from cutwed_spark.streaming import ingest

    def boom(*args, **kwargs):
        raise RuntimeError("scoring failed")

    tr, _ = synth_corpus(6, seed=11)
    tr = tr.assign(ts=tr["ts"].astype("datetime64[us]"))
    spark.catalog.clearCache()
    monkeypatch.setattr(ingest, "score_candidates", boom)
    with pytest.raises(RuntimeError, match="scoring failed"):
        ingest._incremental_batch(
            spark, spark.createDataFrame(tr), PipelineConfig(),
            ingest._paths(str(tmp_path / "work")),
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_finalize_routes_through_bucketed_state(spark, split_corpus):
    """finalize(state_table=...) must read the state side from the
    bucketed catalog table (hash-partitioned by conv_id at the scan, no
    Exchange for the distinct) and return the same clusters as the
    plain-parquet path."""
    from cutwed_spark.streaming.ingest import publish_bucketed_state

    in_dir, work_dir, _, _ = split_corpus
    cfg = PipelineConfig(threshold=THRESHOLD)
    e_plain, c_plain = finalize(spark, work_dir, cfg)
    plain = {r["conv_id"]: r["cluster_id"] for r in c_plain.collect()}
    spark.sql("DROP TABLE IF EXISTS t_finalize_bk")
    try:
        publish_bucketed_state(spark, work_dir, table="t_finalize_bk",
                               n_buckets=8)
        e_bk, c_bk = finalize(spark, work_dir, cfg,
                              state_table="t_finalize_bk")
        plan = c_bk._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "t_finalize_bk" in plan and "Bucketed: true" in plan
        assert {r["conv_id"]: r["cluster_id"] for r in c_bk.collect()} == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS t_finalize_bk")
    # absent table degrades to the plain dir, correctness-neutral
    _, c_missing = finalize(spark, work_dir, cfg, state_table="no_such_tbl")
    assert {r["conv_id"]: r["cluster_id"] for r in c_missing.collect()} == plain


def test_publish_bucketed_state_recovers_stale_location(spark, split_corpus):
    """A leftover managed-table dir from a dead session (in-memory
    catalog: the files survive under the warehouse, the registration
    doesn't) must not wedge the publish forever — saveAsTable refuses a
    non-empty unregistered location, so publish clears it first
    (round-4 advice)."""
    import os
    from urllib.parse import urlparse

    from cutwed_spark.streaming.ingest import publish_bucketed_state

    in_dir, work_dir, _, _ = split_corpus
    if not os.path.isdir(os.path.join(work_dir, "state")):
        # standalone-safe: earlier module tests normally drain the stream
        run_incremental(spark, in_dir, work_dir,
                        PipelineConfig(threshold=THRESHOLD),
                        max_files_per_trigger=1)
    tbl = "t_stale_publish"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, tbl)
    os.makedirs(loc, exist_ok=True)
    stale = os.path.join(loc, "part-stale.parquet")
    with open(stale, "w") as f:
        f.write("stale bytes from a dead session")
    try:
        df = publish_bucketed_state(spark, work_dir, table=tbl, n_buckets=4)
        assert df.count() > 0
        assert not os.path.exists(stale)  # stale copy cleaned, not merged
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_stream_state(spark, split_corpus, tmp_path):
    """Compaction shrinks the per-batch file accumulation without
    changing finalize's answer, and the version marker survives."""
    import shutil

    from cutwed_spark.streaming.ingest import (
        _state_version_marker,
        compact_stream_state,
    )

    in_dir, work_dir, _, _ = split_corpus
    # work on a COPY so the other module tests keep their fixture state
    work2 = str(tmp_path / "work2")
    shutil.copytree(work_dir, work2)
    cfg = PipelineConfig(threshold=THRESHOLD)
    e_before, c_before = finalize(spark, work2, cfg)
    edges_before = {(r["conv_id_a"], r["conv_id_b"]) for r in e_before.collect()}
    n_clusters_before = c_before.count()  # materialize pre-swap plans now
    stats = compact_stream_state(spark, work2, target_files=2)
    assert set(stats) == {"keys", "scored", "state"}
    for s in stats.values():
        assert s["files_after"] <= max(s["files_before"], 2)
        assert s["files_after"] <= 2
    assert os.path.isfile(_state_version_marker(os.path.join(work2, "state")))
    e_after, c_after = finalize(spark, work2, cfg)
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in e_after.collect()} == edges_before
    assert c_after.count() == n_clusters_before
