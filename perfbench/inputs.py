"""Seeded benchmark inputs.

Two generators, both pure functions of their arguments:

- ``write_nova_dump`` renders a Nova mysqldump (``instances``,
  ``instance_extra``, ``instance_actions`` plus one table the converter
  must skip) and returns the same rows as Python objects, so the invoice
  oracle replays the data without going through the program's dump parser.
  The content follows the seed: deleted instances (some before the window,
  some on a real event's timestamp), ``Error`` messages, GPU pci JSON with
  string and integer counts, the ``a2`` alias and multi-entry rows the
  engine quarantines, and actions exactly on the window bounds.
- ``write_registry_tables`` writes the TPC-H-like tables plus ``events`` and
  ``documents`` the registry queries read. Their content is fixed (the
  oracles and the amount of work stay the same for every seed); the seed
  only shuffles row order and picks where each table is split into its
  parquet part files, so results must not depend on input layout.

The gzip header carries no timestamp and parquet is written with fixed
options, so the same arguments give byte-identical files.
"""

from __future__ import annotations

import gzip
import io
import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

WINDOW = (datetime(2024, 1, 1), datetime(2024, 2, 1))

TRIGGER_ACTIONS = ("create", "start", "stop", "shelve", "unshelve", "delete")
OTHER_ACTIONS = ("reboot", "resize", "confirmResize", "migrate", "pause", "unpause", "rebuild")
GPU_ALIASES = ("a100", "A100-SXM4", "v100", "k80")


@dataclass
class NovaData:
    """The rows rendered into the dump, as the invoice oracle needs them."""

    instances: list[dict] = field(default_factory=list)
    pci_requests: dict[str, str | None] = field(default_factory=dict)
    actions: list[tuple[str, datetime, str, str | None]] = field(default_factory=list)


def _sql_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n")
    return f"'{s}'"


def _insert_lines(table: str, rows: list[tuple], per_statement: int = 400) -> list[str]:
    """mysqldump --extended-insert style: many row tuples per statement."""
    return [
        f"INSERT INTO `{table}` VALUES "
        + ",".join("(" + ",".join(_sql_value(v) for v in r) + ")" for r in rows[i : i + per_statement])
        + ";\n"
        for i in range(0, len(rows), per_statement)
    ]


def _create(table: str, columns: list[tuple[str, str]]) -> str:
    body = ",\n".join(f"  `{name}` {sql_type}" for name, sql_type in columns)
    return (
        f"DROP TABLE IF EXISTS `{table}`;\n"
        f"CREATE TABLE `{table}` (\n{body},\n  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;\n"
    )


_INSTANCE_COLUMNS = [
    ("created_at", "datetime DEFAULT NULL"),
    ("updated_at", "datetime DEFAULT NULL"),
    ("deleted_at", "datetime DEFAULT NULL"),
    ("id", "int NOT NULL AUTO_INCREMENT"),
    ("user_id", "varchar(255) DEFAULT NULL"),
    ("project_id", "varchar(255) DEFAULT NULL"),
    ("image_ref", "varchar(255) DEFAULT NULL"),
    ("power_state", "int DEFAULT NULL"),
    ("vm_state", "varchar(255) DEFAULT NULL"),
    ("memory_mb", "int DEFAULT NULL"),
    ("vcpus", "int DEFAULT NULL"),
    ("hostname", "varchar(255) DEFAULT NULL"),
    ("host", "varchar(255) DEFAULT NULL"),
    ("launched_at", "datetime DEFAULT NULL"),
    ("display_name", "varchar(255) DEFAULT NULL"),
    ("availability_zone", "varchar(255) DEFAULT NULL"),
    ("locked", "tinyint(1) DEFAULT NULL"),
    ("instance_type_id", "int DEFAULT NULL"),
    ("uuid", "varchar(36) NOT NULL"),
    ("root_gb", "int DEFAULT NULL"),
    ("node", "varchar(255) DEFAULT NULL"),
    ("deleted", "int DEFAULT NULL"),
]
_EXTRA_COLUMNS = [
    ("created_at", "datetime DEFAULT NULL"),
    ("deleted", "int DEFAULT NULL"),
    ("id", "int NOT NULL AUTO_INCREMENT"),
    ("instance_uuid", "varchar(36) NOT NULL"),
    ("numa_topology", "text"),
    ("pci_requests", "text"),
    ("flavor", "text"),
]
_ACTION_COLUMNS = [
    ("created_at", "datetime DEFAULT NULL"),
    ("updated_at", "datetime DEFAULT NULL"),
    ("id", "int NOT NULL AUTO_INCREMENT"),
    ("action", "varchar(255) DEFAULT NULL"),
    ("instance_uuid", "varchar(36) DEFAULT NULL"),
    ("request_id", "varchar(255) DEFAULT NULL"),
    ("user_id", "varchar(255) DEFAULT NULL"),
    ("project_id", "varchar(255) DEFAULT NULL"),
    ("start_time", "datetime DEFAULT NULL"),
    ("message", "varchar(255) DEFAULT NULL"),
    ("deleted", "int DEFAULT NULL"),
]


def _uuid(rng: np.random.Generator) -> str:
    h = rng.bytes(16).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _pci_json(rng: np.random.Generator) -> str | None:
    """NULL / '[]' / one accepted GPU (string or integer count) / the
    quirks the engine quarantines: the priced-but-rejected 'a2' alias and
    multi-entry requests."""
    u = rng.random()
    if u < 0.55:
        return None
    if u < 0.75:
        return "[]"
    count = int(rng.integers(1, 5))
    spec = '"spec": [{"dev_type": "type-PCI"}]'
    if u < 0.96:
        alias = GPU_ALIASES[int(rng.integers(len(GPU_ALIASES)))]
        c = f'"{count}"' if rng.random() < 0.5 else str(count)
        return f'[{{"count": {c}, {spec}, "alias_name": "{alias}"}}]'
    if u < 0.98:
        return f'[{{"count": "{count}", {spec}, "alias_name": "a2"}}]'
    return (
        f'[{{"count": "{count}", "alias_name": "a100"}}, '
        f'{{"count": "1", "alias_name": "v100"}}]'
    )


def generate_nova(seed: int, n_instances: int) -> NovaData:
    rng = np.random.default_rng([seed, 1])
    w0, w1 = WINDOW
    span_start = w0 - timedelta(days=45)
    span_s = int((w1 + timedelta(days=10) - span_start).total_seconds())
    pre_window_s = int((w0 - timedelta(days=8) - span_start).total_seconds())
    n_projects = max(4, n_instances // 50)
    data = NovaData()
    for i in range(n_instances):
        uuid = _uuid(rng)
        project = f"proj-{int(rng.integers(n_projects)):04d}"
        n_events = int(rng.integers(2, 30))
        # one in six instances lived only before the window; deleted, they
        # fail the liveness filter
        life_s = pre_window_s if rng.random() < 1 / 6 else span_s
        offsets = np.sort(rng.choice(life_s, size=n_events, replace=False))
        times = [span_start + timedelta(seconds=int(s)) for s in offsets]
        # actions exactly on the window bounds (timestamps stay distinct
        # per instance: equal-time events of one instance have no order)
        if rng.random() < 0.03 and w0 not in times:
            times = sorted(times[:-1] + [w0])
        if rng.random() < 0.03 and w1 not in times:
            times = sorted(times[1:] + [w1])
        events = []
        for k, t in enumerate(times):
            if k == 0:
                action = "create"
            elif rng.random() < 0.75:
                action = TRIGGER_ACTIONS[int(rng.integers(1, len(TRIGGER_ACTIONS) - 1))]
            else:
                action = OTHER_ACTIONS[int(rng.integers(len(OTHER_ACTIONS)))]
            u = rng.random()
            message = "Error" if u < 0.04 else (None if u < 0.7 else "")
            events.append((uuid, t, action, message))
        deleted_at = None
        if rng.random() < 0.3:
            last = times[-1]
            if rng.random() < 0.3:
                deleted_at = last  # ties with a real event: the delete sorts after it
                events[-1] = (uuid, last, "delete", events[-1][3])
            else:
                deleted_at = last + timedelta(seconds=int(rng.integers(1, 7 * 86400)))
        data.actions.extend(events)
        vcpus = int(rng.choice([1, 2, 4, 8, 16]))
        memory_mb = int(rng.choice([512, 2048, 4096, 8192, 16384, 32768, 65536]))
        data.instances.append(
            {
                "uuid": uuid,
                "id": i + 1,
                "project_id": project,
                "vcpus": vcpus,
                "memory_mb": memory_mb,
                "created_at": times[0],
                "deleted_at": deleted_at,
                "deleted": 0 if deleted_at is None else i + 1,
                "hostname": f"vm-{i}" if rng.random() < 0.9 else f"o'brien, test\\{i}",
            }
        )
        data.pci_requests[uuid] = _pci_json(rng)
    return data


def render_nova_dump(data: NovaData) -> bytes:
    out = io.StringIO()
    out.write("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n-- Host: localhost    Database: nova\n")
    out.write("/*!40101 SET NAMES utf8mb4 */;\n\n")
    out.write(_create("instances", _INSTANCE_COLUMNS))
    out.write("LOCK TABLES `instances` WRITE;\n")
    rows = [
        (
            r["created_at"], r["created_at"], r["deleted_at"], r["id"], f"user-{r['id'] % 97}",
            r["project_id"], "9b1b0cde-image", 1 if r["deleted_at"] is None else 0,
            "active" if r["deleted_at"] is None else "deleted", r["memory_mb"], r["vcpus"],
            r["hostname"], f"compute-{r['id'] % 13}", r["created_at"], f"display {r['id']}",
            "nova", 0, (r["id"] % 11) + 1, r["uuid"], 20, f"compute-{r['id'] % 13}.local", r["deleted"],
        )
        for r in data.instances
    ]
    out.writelines(_insert_lines("instances", rows))
    out.write("UNLOCK TABLES;\n")
    out.write(_create("instance_extra", _EXTRA_COLUMNS))
    flavor = json.dumps({"cur": {"nova_object.name": "Flavor", "nova_object.data": {"extra_specs": {}, "swap": 0}}})
    rows = [
        (r["created_at"], 0, r["id"], r["uuid"], None, data.pci_requests[r["uuid"]], flavor)
        for r in data.instances
    ]
    out.writelines(_insert_lines("instance_extra", rows))
    out.write(_create("instance_actions", _ACTION_COLUMNS))
    rows = [
        (t, t, k + 1, action, uuid, f"req-{k:08x}", "user", "proj", t, message, 0)
        for k, (uuid, t, action, message) in enumerate(data.actions)
    ]
    out.writelines(_insert_lines("instance_actions", rows))
    out.write(_create("services", [("id", "int NOT NULL"), ("host", "varchar(255)")]))
    out.writelines(_insert_lines("services", [(k, f"compute-{k}") for k in range(13)]))
    out.write("-- Dump completed\n")
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(out.getvalue().encode("utf-8"))
    return buf.getvalue()


def write_nova_dump(path: str, seed: int, n_instances: int) -> NovaData:
    data = generate_nova(seed, n_instances)
    with open(path, "wb") as f:
        f.write(render_nova_dump(data))
    return data


# --- registry tables ----------------------------------------------------------

CONTENT_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.148), ("fr", 0.148), ("de", 0.144))


def _registry_content(sf: float, n_docs: int) -> dict:
    """Column arrays per table; a function of (sf, n_docs) only."""
    import pyarrow as pa

    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": segments[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}
    adjs = np.array(["red", "hot", "large", "small", "blue", "cold", "green", "dark"])
    nouns = np.array(["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {"p_partkey": pk,
                 "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]),
                 "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                 "p_type": ptypes[rng.integers(0, 6, n_part)],
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}
    d0 = np.datetime64("1995-01-01", "us")
    t["orders"] = {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                   "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                   "o_orderdate": d0 + rng.integers(0, 2404, n_ord) * day,
                   "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                     "l_shipdate": d0 + rng.integers(1, 2500, n_line) * day}
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                   "user_id": rng.integers(0, max(150, n_ev // 67), n_ev),
                   "event_type": np.array(["signup", "click", "purchase", "view", "error"])[rng.integers(0, 5, n_ev)],
                   "value": np.round(rng.exponential(50.0, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]) for _ in range(n_docs)]
    for i in range(n_docs):  # ~5% near-duplicates, ~0.2% exact duplicates
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[int(rng.integers(n_docs))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(n_docs))]
    names, weights = zip(*LANGS)
    t["documents"] = {"doc_id": np.arange(n_docs, dtype=np.int64),
                      "text": texts,
                      "lang": np.array(names)[rng.choice(len(names), n_docs, p=np.array(weights) / sum(weights))],
                      "source": [f"src{k % 20}" for k in range(n_docs)],
                      "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    return {name: pa.table(cols) for name, cols in t.items()}


def write_registry_tables(
    out_dir: str, seed: int, *, sf: float, n_docs: int, tables: tuple[str, ...], n_files: int = 4
) -> None:
    """``{out_dir}/{table}.parquet/part-NNNNN.parquet`` per table: fixed
    content, seeded row order and split points."""
    import pyarrow.parquet as pq

    content = _registry_content(sf, n_docs)
    rng = np.random.default_rng([seed, 2])
    for name in tables:
        table = content[name]
        table = table.take(rng.permutation(table.num_rows))
        cuts = np.sort(rng.choice(np.arange(1, table.num_rows), size=min(n_files, table.num_rows) - 1, replace=False))
        bounds = [0, *cuts.tolist(), table.num_rows]
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for k in range(len(bounds) - 1):
            pq.write_table(
                table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                os.path.join(tdir, f"part-{k:05d}.parquet"),
                compression="snappy",
            )
