"""Seeded Nova-shaped inputs for the invoice benchmark.

One model, two serializations:

- ``make_fleet`` draws instances and their ``instance_actions`` as numpy
  arrays (Zipf-skewed events per instance, strictly increasing times per
  instance, deleted instances with and without a ``delete`` action, GPU
  ``pci_requests``, NULL vs '' vs 'Error' messages);
- ``write_dump`` renders a fleet as a gzipped mysqldump (the reference's
  daily input), ``write_history`` as parquet with ``timestamp[us, UTC]``
  columns (a landed event history).

The oracle (``oracle.py``) reads the same arrays, never the files, so the
program's dump scanner and parquet reader are checked too. The same seed
gives byte-identical files: numpy's PCG64 stream, no wall-clock input, and
gzip ``mtime=0``.
"""

from __future__ import annotations

import gzip
import uuid
from dataclasses import dataclass

import numpy as np

ACTIONS = (
    "create", "start", "stop", "shelve", "unshelve", "delete",
    "reboot", "resize", "live-migration", "pause",
)
# draw weights for the events after `create`; a delete is only ever placed
# last (below), so its weight is 0
_NEXT_ACTION_P = np.array([0.22, 0.22, 0.08, 0.08, 0.0, 0.15, 0.1, 0.1, 0.05])

# message codes → text; NULL and '' must both survive the dump round trip
MESSAGES = (None, "", "Error", "Instance's task, \"resize\" reverted")
_MESSAGE_P = np.array([0.55, 0.40, 0.015, 0.035])

FLAVORS = ((1, 2048), (2, 4096), (4, 8192), (8, 16384), (16, 65536), (2, 16384), (4, 32768))
GPU_ALIASES = ("a100", "A100-SXM4", "v100", "k80")
HOSTNAME_QUIRKS = ("o'neil's box", "web, db", "back\\slash")


@dataclass
class Fleet:
    # instances
    uuid: list[str]
    hostname: list[str]
    project: list[str]
    vcpus: np.ndarray
    memory_mb: np.ndarray
    pci: list[str | None]
    has_extra: np.ndarray  # False: no instance_extra row at all
    created_s: np.ndarray  # epoch seconds
    deleted_s: np.ndarray  # epoch seconds, -1 = not deleted
    # instance_actions, sorted by time (dump row order)
    a_inst: np.ndarray
    a_ts: np.ndarray
    a_action: np.ndarray  # index into ACTIONS
    a_message: np.ndarray  # index into MESSAGES


def _epoch(day: str) -> int:
    return int(np.datetime64(day, "s").astype(np.int64))


def make_fleet(
    seed: int,
    *,
    n_instances: int,
    n_actions: int,
    first_day: str,
    last_day: str,
    n_projects: int,
    zipf_s: float = 0.8,
) -> Fleet:
    """Instances created in [first_day, last_day − 2 days); every event of an
    instance lies in [created, last_day). ``n_actions`` is exact."""
    if n_actions < n_instances:
        raise ValueError("need at least one action (create) per instance")
    rng = np.random.default_rng(seed)
    t0, t1 = _epoch(first_day), _epoch(last_day)

    projects = [rng.bytes(16).hex() for _ in range(n_projects)]
    project_idx = rng.integers(0, n_projects, n_instances)
    flavor = rng.integers(0, len(FLAVORS), n_instances)
    vcpus = np.array([FLAVORS[f][0] for f in flavor], dtype=np.int64)
    memory_mb = np.array([FLAVORS[f][1] for f in flavor], dtype=np.int64)

    # pci_requests: 70% NULL, 10% '[]', 10% one GPU request, 10% no row
    kind = rng.choice(4, n_instances, p=[0.7, 0.1, 0.1, 0.1])
    gpu_alias = rng.integers(0, len(GPU_ALIASES), n_instances)
    gpu_count = rng.integers(1, 5, n_instances)
    pci = [
        '[{"count": "%d", "alias_name": "%s"}]' % (gpu_count[i], GPU_ALIASES[gpu_alias[i]])
        if k == 2
        else ("[]" if k == 1 else None)
        for i, k in enumerate(kind)
    ]

    # Zipf-skewed events per instance, exact total: one create each plus a
    # multinomial share of the rest; a few hot instances get thousands
    weights = 1.0 / np.arange(1, n_instances + 1) ** zipf_s
    weights = rng.permutation(weights / weights.sum())
    counts = 1 + rng.multinomial(n_actions - n_instances, weights)

    created = rng.integers(t0, t1 - 2 * 86_400, n_instances)
    span = t1 - created
    inst = np.repeat(np.arange(n_instances), counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    rank = np.arange(n_actions) - starts[inst]
    # sorted offsets in [0, span − count), then + rank: strictly increasing
    off = rng.random(n_actions) * (span - counts)[inst]
    off = off[np.lexsort((off, inst))].astype(np.int64)
    off[starts] = 0
    ts = created[inst] + off + rank

    action = 1 + rng.choice(len(_NEXT_ACTION_P), n_actions, p=_NEXT_ACTION_P)
    action[starts] = 0  # create
    message = rng.choice(len(MESSAGES), n_actions, p=_MESSAGE_P)

    # 20% deleted: most end with a `delete` action, deleted_at a little later;
    # one-event instances are deleted without any delete action
    last = starts + counts - 1
    deleted = rng.random(n_instances) < 0.2
    deleted_s = np.where(deleted, ts[last] + rng.integers(1, 600, n_instances), -1)
    with_action = deleted & (counts > 1) & (rng.random(n_instances) < 0.95)
    action[last[with_action]] = ACTIONS.index("delete")

    order = np.argsort(ts, kind="stable")
    uuids = [str(uuid.UUID(bytes=rng.bytes(16), version=4)) for _ in range(n_instances)]
    hostnames = [
        HOSTNAME_QUIRKS[(i // 29) % len(HOSTNAME_QUIRKS)] if i % 29 == 0 else f"vm-{i}"
        for i in range(n_instances)
    ]
    return Fleet(
        uuid=uuids,
        hostname=hostnames,
        project=[projects[p] for p in project_idx],
        vcpus=vcpus,
        memory_mb=memory_mb,
        pci=pci,
        has_extra=kind != 3,
        created_s=created,
        deleted_s=deleted_s,
        a_inst=inst[order],
        a_ts=ts[order],
        a_action=action[order],
        a_message=message[order],
    )


# --- mysqldump -------------------------------------------------------------

_DUMP_HEAD = """-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)
--
-- Host: localhost    Database: nova
-- ------------------------------------------------------
/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;
/*!40101 SET NAMES utf8mb4 */;
"""

_CREATE = {
    "instances": """CREATE TABLE `instances` (
  `created_at` datetime DEFAULT NULL,
  `updated_at` datetime DEFAULT NULL,
  `deleted_at` datetime DEFAULT NULL,
  `id` int NOT NULL AUTO_INCREMENT,
  `uuid` varchar(36) NOT NULL,
  `hostname` varchar(255) DEFAULT NULL,
  `project_id` varchar(255) DEFAULT NULL,
  `instance_type_id` int DEFAULT NULL,
  `vcpus` int DEFAULT NULL,
  `memory_mb` int DEFAULT NULL,
  `vm_state` varchar(255) DEFAULT NULL,
  `deleted` int DEFAULT NULL,
  PRIMARY KEY (`id`),
  UNIQUE KEY `uniq_instances0uuid` (`uuid`),
  KEY `instances_project_id_idx` (`project_id`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;
""",
    "instance_extra": """CREATE TABLE `instance_extra` (
  `created_at` datetime DEFAULT NULL,
  `id` int NOT NULL AUTO_INCREMENT,
  `instance_uuid` varchar(36) NOT NULL,
  `pci_requests` text,
  `flavor` text,
  PRIMARY KEY (`id`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;
""",
    "instance_actions": """CREATE TABLE `instance_actions` (
  `created_at` datetime DEFAULT NULL,
  `updated_at` datetime DEFAULT NULL,
  `deleted_at` datetime DEFAULT NULL,
  `id` int NOT NULL AUTO_INCREMENT,
  `action` varchar(255) DEFAULT NULL,
  `instance_uuid` varchar(36) DEFAULT NULL,
  `request_id` varchar(255) DEFAULT NULL,
  `user_id` varchar(255) DEFAULT NULL,
  `project_id` varchar(255) DEFAULT NULL,
  `start_time` datetime DEFAULT NULL,
  `finish_time` datetime DEFAULT NULL,
  `message` varchar(255) DEFAULT NULL,
  `deleted` int DEFAULT NULL,
  PRIMARY KEY (`id`),
  KEY `instance_uuid_idx` (`instance_uuid`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;
""",
    "key_pairs": """CREATE TABLE `key_pairs` (
  `id` int NOT NULL AUTO_INCREMENT,
  `name` varchar(255) NOT NULL,
  `public_key` mediumtext,
  PRIMARY KEY (`id`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;
""",
}


def _sql_str(s: str | None) -> str:
    if s is None:
        return "NULL"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


def _sql_times(seconds: np.ndarray) -> list[str]:
    text = np.datetime_as_string(seconds.astype("datetime64[s]"), unit="s")
    return ["'" + t.replace("T", " ") + "'" for t in text.tolist()]


def _insert_lines(table: str, rows: list[str], per_line: int = 400) -> list[str]:
    return [
        f"INSERT INTO `{table}` VALUES " + ",".join(rows[i : i + per_line]) + ";\n"
        for i in range(0, len(rows), per_line)
    ]


def dump_text(fleet: Fleet) -> str:
    n = len(fleet.uuid)
    created = _sql_times(fleet.created_s)
    deleted = _sql_times(np.maximum(fleet.deleted_s, 0))
    inst_rows = [
        "({c},{c},{d},{i},'{u}',{h},'{p}',{f},{v},{m},'{st}',{dl})".format(
            c=created[i],
            d=deleted[i] if fleet.deleted_s[i] >= 0 else "NULL",
            i=i + 1,
            u=fleet.uuid[i],
            h=_sql_str(fleet.hostname[i]),
            p=fleet.project[i],
            f=1 + i % 7,
            v=fleet.vcpus[i],
            m=fleet.memory_mb[i],
            st="deleted" if fleet.deleted_s[i] >= 0 else "active",
            dl=1 if fleet.deleted_s[i] >= 0 else 0,
        )
        for i in range(n)
    ]
    extra_rows = [
        f"({created[i]},{i + 1},'{fleet.uuid[i]}',{_sql_str(fleet.pci[i])},"
        f"'{{\"cur\": {{\"nova_object.name\": \"Flavor\"}}}}')"
        for i in range(n)
        if fleet.has_extra[i]
    ]
    ts = _sql_times(fleet.a_ts)
    msg = [_sql_str(m) for m in MESSAGES]
    action_rows = [
        "({t},NULL,NULL,{k},'{a}','{u}','req-{r:08x}','{p}','{p}',{t},{t},{m},0)".format(
            t=ts[k],
            k=k + 1,
            a=ACTIONS[a],
            u=fleet.uuid[i],
            r=(k * 2654435761) & 0xFFFFFFFF,
            p=fleet.project[i],
            m=msg[mc],
        )
        for k, (i, a, mc) in enumerate(
            zip(fleet.a_inst.tolist(), fleet.a_action.tolist(), fleet.a_message.tolist())
        )
    ]
    key_rows = [f"({i},'key-{i}','ssh-rsa AAAA{i:04d}\\'s key, test')" for i in range(1, 4)]
    parts = [_DUMP_HEAD]
    for table, rows in (
        ("instances", inst_rows),
        ("key_pairs", key_rows),
        ("instance_extra", extra_rows),
        ("instance_actions", action_rows),
    ):
        parts.append(f"DROP TABLE IF EXISTS `{table}`;\n")
        parts.append(_CREATE[table])
        parts.append(f"LOCK TABLES `{table}` WRITE;\n")
        parts.extend(_insert_lines(table, rows))
        parts.append("UNLOCK TABLES;\n")
    parts.append("-- Dump completed\n")
    return "".join(parts)


def write_dump(fleet: Fleet, path: str) -> None:
    """Gzipped dump at ``path``; no file name or time in the gzip header."""
    data = dump_text(fleet).encode("utf-8")
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6
    ) as gz:
        gz.write(data)


# --- parquet history -------------------------------------------------------


def write_history(fleet: Fleet, out_dir: str) -> dict[str, str]:
    """``instances``, ``instance_extra`` and ``instance_actions`` parquet
    files; timestamps are ``timestamp[us, tz=UTC]``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pa.timestamp("us", tz="UTC")

    def ts(seconds: np.ndarray, null: np.ndarray | None = None) -> pa.Array:
        return pa.array(seconds * 1_000_000, type=pa.int64(), mask=null).cast(ts_type)

    uuids = pa.array(fleet.uuid, type=pa.string())
    deleted = fleet.deleted_s >= 0
    tables = {
        "instances": pa.table(
            {
                "uuid": uuids,
                "project_id": pa.array(fleet.project, type=pa.string()),
                "vcpus": pa.array(fleet.vcpus, type=pa.int32()),
                "memory_mb": pa.array(fleet.memory_mb, type=pa.int32()),
                "deleted": pa.array(deleted.astype(np.int32)),
                "created_at": ts(fleet.created_s),
                "deleted_at": ts(np.maximum(fleet.deleted_s, 0), ~deleted),
            }
        ),
        "instance_extra": pa.table(
            {
                "instance_uuid": uuids.filter(pa.array(fleet.has_extra)),
                "pci_requests": pa.array(
                    [p for p, e in zip(fleet.pci, fleet.has_extra) if e], type=pa.string()
                ),
            }
        ),
        "instance_actions": pa.table(
            {
                "instance_uuid": uuids.take(pa.array(fleet.a_inst)),
                "created_at": ts(fleet.a_ts),
                "action": pa.array(ACTIONS, type=pa.string()).take(pa.array(fleet.a_action)),
                "message": pa.array(MESSAGES, type=pa.string()).take(pa.array(fleet.a_message)),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=256 * 1024)
    return paths
