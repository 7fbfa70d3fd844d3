"""The epoch-log contract every foreachBatch stream shares
(streaming/sessions.run_epoch_stream): a replayed micro-batch rewrites
its own epoch and leaves the read-back output unchanged, and no other
streaming module drives a stream writer by hand."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from openstack_billing_from_db_spark import streaming
from openstack_billing_from_db_spark.streaming.dedup_stream import (
    read_index,
    run_streaming_dedup_index,
)
from openstack_billing_from_db_spark.streaming.pack_stream import (
    run_streaming_greedy_pack,
)
from openstack_billing_from_db_spark.streaming.sketch_stream import (
    read_kmv_estimate,
    run_streaming_kmv,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog today",
    "completely different words about spark shuffles and joins",
    "an entirely fresh document with novel words in it",
]


def _write(path: str, **cols) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _write_docs(stream_dir: str) -> None:
    # file 2 repeats file 1's texts under new ids, plus one fresh text
    for i, ids in enumerate(([1, 2, 3], [10, 11, 12])):
        texts = TEXTS if i == 0 else [TEXTS[0], TEXTS[2], "yet another new text"]
        _write(
            f"{stream_dir}/b{i}.parquet",
            doc_id=pa.array(ids, pa.int64()),
            text=pa.array(texts, pa.string()),
        )


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _kmv(spark, d):
    for i in range(2):
        _write(
            f"{d}/in/b{i}.parquet",
            event_type=pa.array(["click", "view"] * 20, pa.string()),
            user_id=pa.array(range(i * 25, i * 25 + 40), pa.int64()),
        )

    def run():
        run_streaming_kmv(
            spark, f"{d}/in", "event_type string, user_id long", f"{d}/state",
            f"{d}/ckpt", group_col="event_type", value_col="user_id", k=8,
        )

    def read():
        est = read_kmv_estimate(spark, f"{d}/state", group_col="event_type", k=8)
        return _rows(est)

    return run, read


def _dedup(spark, d):
    _write_docs(f"{d}/in")

    def run():
        run_streaming_dedup_index(
            spark, f"{d}/in", f"{d}/idx", f"{d}/verdicts", f"{d}/ckpt"
        )

    def read():
        index = read_index(spark, f"{d}/idx").select("doc_id", "epoch").distinct()
        return _rows(index), _rows(spark.read.parquet(f"{d}/verdicts"))

    return run, read


def _pack(spark, d):
    _write_docs(f"{d}/in")

    def run():
        run_streaming_greedy_pack(
            spark, f"{d}/in", f"{d}/assigns", f"{d}/state", f"{d}/ckpt",
            budget=16, shards=2,
        )

    def read():
        return _rows(spark.read.parquet(f"{d}/assigns"))

    return run, read


@pytest.mark.parametrize(
    "stream", [_kmv, _dedup, _pack], ids=["kmv", "dedup", "pack"]
)
def test_replayed_epoch_is_idempotent(spark, tmp_path, stream):
    """Drop the checkpoint's last commit so the stream replays that
    micro-batch under the same epoch id: the overwrite must leave the
    read-back output exactly as the first run wrote it (a dedup or pack
    epoch must not read its own earlier output as prior state)."""
    run, read = stream(spark, str(tmp_path))
    run()
    first = read()
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    run()
    assert (commits / str(last)).exists()  # the epoch really ran again
    assert read() == first


def test_only_sessions_drives_streams():
    """Every stream is read, started, driven and stopped in
    streaming/sessions.py (run_epoch_stream, run_stream_to_memory,
    file_stream, stream_events); no other streaming module writes that
    tail by hand."""
    pkg = Path(streaming.__file__).parent
    found = []
    for path in sorted(pkg.glob("*.py")):
        if path.name == "sessions.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "readStream",
                "writeStream",
                "processAllAvailable",
            ):
                found.append(f"{path.name}:{node.lineno} .{node.attr}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "start"
            ):
                found.append(f"{path.name}:{node.lineno} .start(")
    assert not found, found
