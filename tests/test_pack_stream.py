"""Streaming greedy packing (streaming/pack_stream.py): micro-batches
continue the per-shard open-bin state; the union of epoch assignments
must equal one greedy_pack_bins batch over all documents (the
incremental ≡ batch equivalence q151 driver-certifies on splits)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openstack_billing_from_db_spark.functions.hashing import seeded_hash64
from openstack_billing_from_db_spark.operators.curation import (
    greedy_pack_bins,
    greedy_pack_continue,
    merge_pack_state,
    pack_state,
)
from openstack_billing_from_db_spark.operators.text import words
from openstack_billing_from_db_spark.streaming.pack_stream import (
    read_assignments,
    run_streaming_greedy_pack,
)

BUDGET = 12
SHARDS = 4


def _doc(i: int, n_words: int) -> tuple[int, str]:
    return (i, " ".join(f"w{i}x{j}" for j in range(n_words)))


def _write_docs(path: str, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        path,
    )


def _toks(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        (seeded_hash64(F.col("doc_id").cast("string"), "gpack") % SHARDS).alias(
            "shard"
        ),
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )


def _assign_map(df):
    return {r.doc_id: (r.shard, r.n_tokens, r.bin) for r in df.collect()}


def test_continue_with_no_state_equals_batch(spark):
    rows = [_doc(i, 1 + (i * 7) % 11) for i in range(40)]
    toks = _toks(spark, rows)
    assert _assign_map(greedy_pack_continue(toks, None, budget=BUDGET)) == (
        _assign_map(greedy_pack_bins(toks, budget=BUDGET))
    )


def test_two_phase_continuation_equals_one_batch(spark):
    """Split at a doc_id boundary, carry (open_bin, open_acc), pack the
    rest — identical to the single batch run (incl. the continued-bin
    and oversize-doc edges)."""
    rows = [_doc(i, 1 + (i * 7) % 11) for i in range(40)]
    rows[13] = _doc(13, 50)  # oversize: heavier than the budget
    toks = _toks(spark, rows)
    batch1 = toks.filter("doc_id < 17")
    batch2 = toks.filter("doc_id >= 17")
    a1 = greedy_pack_continue(batch1, None, budget=BUDGET)
    state = merge_pack_state(None, pack_state(a1))
    a2 = greedy_pack_continue(batch2, state, budget=BUDGET)
    got = _assign_map(a1.unionByName(a2))
    want = _assign_map(greedy_pack_bins(toks, budget=BUDGET))
    assert got == want


def test_seen_shard_first_doc_respects_overflow_check(spark):
    """A seen shard applies the overflow check to its FIRST batch doc
    (the i>0 rule of the union run) — including the acc=0 zero-weight
    edge where an oversize doc must still open a new bin."""
    toks = spark.createDataFrame(
        [(0, 1, 0)], "shard long, doc_id long, n_tokens long"
    )
    state = spark.createDataFrame(
        [(0, 0, 0)], "shard long, open_bin long, open_acc long"
    )
    later = spark.createDataFrame(
        [(0, 2, 99)], "shard long, doc_id long, n_tokens long"
    )
    a1 = greedy_pack_continue(toks, None, budget=12)
    assert _assign_map_raw(a1) == {1: (0, 0, 0)}
    a2 = greedy_pack_continue(later, state, budget=12)
    # batch equivalent: docs (w=0, w=99) -> bins (0, 1)
    assert _assign_map_raw(a2) == {2: (0, 99, 1)}


def _assign_map_raw(df):
    return {r.doc_id: (r.shard, r.n_tokens, r.bin) for r in df.collect()}


def test_streaming_greedy_pack_multi_run_equals_batch(spark, tmp_path):
    docs_dir = str(tmp_path / "docs_stream")
    assigns_dir = str(tmp_path / "assigns")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    all_rows = [_doc(i, 1 + (i * 5) % 9) for i in range(60)]
    _write_docs(f"{docs_dir}/b0.parquet", all_rows[:20])
    _write_docs(f"{docs_dir}/b1.parquet", all_rows[20:45])
    run_streaming_greedy_pack(
        spark, docs_dir, assigns_dir, state_dir, ckpt,
        budget=BUDGET, shards=SHARDS,
    )
    # a SECOND runner invocation picks up a new file from the checkpoint
    # and continues from the persisted state
    _write_docs(f"{docs_dir}/b2.parquet", all_rows[45:])
    run_streaming_greedy_pack(
        spark, docs_dir, assigns_dir, state_dir, ckpt,
        budget=BUDGET, shards=SHARDS,
    )

    got = _assign_map(read_assignments(spark, assigns_dir))
    want = _assign_map(greedy_pack_bins(_toks(spark, all_rows), budget=BUDGET))
    assert len(got) == 60
    assert got == want


def test_continuation_equivalence_property(spark):
    """Property: ANY sequence of id-ordered batch splits composes to the
    batch answer (hypothesis over weights and cut points)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        weights=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=30),
        cuts=st.lists(st.integers(min_value=0, max_value=29), max_size=3),
    )
    def check(weights, cuts):
        rows = [(0, i, w) for i, w in enumerate(weights)]
        toks = spark.createDataFrame(
            rows, "shard long, doc_id long, n_tokens long"
        )
        want = _assign_map_raw(greedy_pack_bins(toks, budget=16))
        bounds = sorted({c for c in cuts if c < len(weights)})
        got = {}
        state = None
        lo = 0
        for b in bounds + [len(weights)]:
            part = toks.filter(f"doc_id >= {lo} and doc_id < {b}")
            if part.count() == 0:
                lo = b
                continue
            a = greedy_pack_continue(part, state, budget=16)
            got.update(_assign_map_raw(a))
            state = merge_pack_state(state, pack_state(a))
            lo = b
        assert got == want

    check()


def test_streaming_pack_refuses_mismatched_config(spark, tmp_path):
    """A resume with different (shards, budget, seed) would silently
    continue with mismatched hash sharding — the config sidecar written
    on first run must make it refuse instead."""
    import pytest

    docs_dir = str(tmp_path / "docs_stream")
    assigns_dir = str(tmp_path / "assigns")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(f"{docs_dir}/b0.parquet", [_doc(i, 3) for i in range(10)])
    run_streaming_greedy_pack(
        spark, docs_dir, assigns_dir, state_dir, ckpt,
        budget=BUDGET, shards=SHARDS,
    )
    _write_docs(f"{docs_dir}/b1.parquet", [_doc(i, 3) for i in range(10, 20)])
    for bad in (
        dict(budget=BUDGET, shards=SHARDS + 1),
        dict(budget=BUDGET + 1, shards=SHARDS),
        dict(budget=BUDGET, shards=SHARDS, seed="other"),
    ):
        with pytest.raises(ValueError, match="different configuration"):
            run_streaming_greedy_pack(
                spark, docs_dir, assigns_dir, state_dir, ckpt, **bad
            )
    # the matching config still resumes cleanly
    run_streaming_greedy_pack(
        spark, docs_dir, assigns_dir, state_dir, ckpt,
        budget=BUDGET, shards=SHARDS,
    )
    assert len(_assign_map(read_assignments(spark, assigns_dir))) == 20


def test_merge_pack_state_explicit_shard_col(spark):
    """merge_pack_state joins on the named shard column even when the
    batch-state columns arrive reordered (e.g. read back from parquet),
    and refuses a state frame that lacks it."""
    import pytest

    prev = spark.createDataFrame(
        [(0, 2, 5), (1, 0, 7)], "shard long, open_bin long, open_acc long"
    )
    batch = spark.createDataFrame(
        [(3, 2, 0), (4, 1, 1)], "open_acc long, open_bin long, shard long"
    )
    got = {
        r.shard: (r.open_bin, r.open_acc)
        for r in merge_pack_state(prev, batch).collect()
    }
    # shard 0 continued bin 2: 5 carried + 3 batch; shard 1 opened bin 1
    assert got == {0: (2, 8), 1: (1, 4)}
    with pytest.raises(ValueError, match="shard_col"):
        merge_pack_state(prev, batch.withColumnRenamed("shard", "s"))


def test_streaming_pack_refuses_unreadable_state(spark, tmp_path):
    """A state log that exists but cannot be read fails the run: read
    as "no prior state", it would pack the new docs from bin 0 —
    assignments no batch run produces."""
    import glob

    import pytest
    from pyspark.errors import StreamingQueryException

    docs_dir = str(tmp_path / "docs_stream")
    assigns_dir = str(tmp_path / "assigns")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = [_doc(i, 1 + (i * 7) % 11) for i in range(40)]
    _write_docs(f"{docs_dir}/b0.parquet", rows[:20])
    _write_docs(f"{docs_dir}/b1.parquet", rows[20:])
    run_streaming_greedy_pack(
        spark, docs_dir, assigns_dir, state_dir, ckpt, budget=16, shards=2
    )
    for part in glob.glob(f"{state_dir}/epoch=*/part-*"):
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    for crc in glob.glob(f"{state_dir}/epoch=*/.part-*.crc"):
        os.remove(crc)
    _write_docs(f"{docs_dir}/b2.parquet", [_doc(i, 3) for i in range(40, 50)])
    with pytest.raises(
        StreamingQueryException, match="CANNOT_READ_FILE_FOOTER"
    ):
        run_streaming_greedy_pack(
            spark, docs_dir, assigns_dir, state_dir, ckpt, budget=16, shards=2
        )
