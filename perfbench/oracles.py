"""Expected outputs, computed without the program under test.

- The nightly invoice is replayed in plain Python from the generated Nova
  rows (not from the dump file), following the reference billing state
  machine: trigger actions and ``Error`` messages set the state, a deleted
  instance gets a closing ``Deleted`` event after any real event at the same
  time, running time is clamped to the window, hours are rounded up per
  instance before the per-project sum, and money is Decimal with HALF_UP.
- Registry queries run their DuckDB oracle SQL over the same parquet the
  program reads, and results compare order-insensitively.
"""

from __future__ import annotations

import csv
import json
import math
from collections import defaultdict
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

from inputs import WINDOW, NovaData

# example production rates (reference tools/pod.yaml) and display names
RATES = {
    "cpu": ("OpenStack CPU", "0.013"),
    "gpu_a100sxm4": ("OpenStack GPUA100SXM4", "2.078"),
    "gpu_a100": ("OpenStack GPUA100", "1.803"),
    "gpu_v100": ("OpenStack GPUV100", "1.214"),
    "gpu_k80": ("OpenStack GPUK80", "0.463"),
    "gpu_a2": ("OpenStack GPUA2", "0.463"),
}
TRIGGERS = {
    "create": "Running",
    "start": "Running",
    "unshelve": "Running",
    "stop": "Stopped",
    "shelve": "Shelved",
    "delete": "Deleted",
}
ACCEPTED_ALIASES = ("a100", "a100-sxm4", "v100", "k80")
CSV_HEADER = [
    "Invoice Month", "Report Start Time", "Report End Time", "Project - Allocation",
    "Project - Allocation ID", "Manager (PI)", "Cluster Name", "Invoice Email",
    "Invoice Address", "Institution", "Institution - Specific Code",
    "SU Hours (GBhr or SUhr)", "SU Type", "Rate", "Cost", "Generated At",
]
HOUR_US = 3_600_000_000


def _micros(t: datetime) -> int:
    d = t.replace(tzinfo=timezone.utc) - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _service_units(inst: dict, pci: str | None) -> tuple[str, int]:
    """(su_type, service units); quarantined pci rows (several entries or
    an unaccepted alias) bill as CPU, which is what the engine does when it
    is not told to fail on them."""
    entries = json.loads(pci) if pci is not None else None
    su_type, gpus = "cpu", 0
    if entries:
        alias = str(entries[0]["alias_name"]).lower()
        if len(entries) == 1 and alias in ACCEPTED_ALIASES:
            su_type, gpus = "gpu_" + alias.replace("-", ""), int(entries[0]["count"])
    return su_type, gpus or math.floor(max(inst["vcpus"], inst["memory_mb"] / 4096))


def expected_invoice(data: NovaData) -> list[tuple]:
    """Invoice rows without ``Generated At``, for the window in ``WINDOW``
    with stopped time not billed (the CLI default)."""
    w0, w1 = WINDOW
    lo, hi = _micros(w0), _micros(w1)
    live = {
        r["uuid"]: r
        for r in data.instances
        if r["deleted"] == 0 or (r["deleted_at"] is not None and r["deleted_at"] > w0)
    }
    events: dict[str, list[tuple[int, int, str]]] = defaultdict(list)
    for uuid, t, action, message in data.actions:
        state = "Error" if message == "Error" else TRIGGERS.get(action)
        if state is not None:
            events[uuid].append((_micros(t), 0, state))
    for uuid, r in live.items():
        if r["deleted_at"] is not None:
            events[uuid].append((_micros(r["deleted_at"]), 1, "Deleted"))

    su_hours: dict[tuple[str, str], int] = defaultdict(int)
    for uuid, inst in live.items():
        evs = sorted(events.get(uuid, ()))
        running = 0
        for k, (start, _, state) in enumerate(evs):
            end = evs[k + 1][0] if k + 1 < len(evs) else 1 << 62
            if state == "Running":
                running += max(0, min(end, hi) - max(start, lo))
        hours = (running + HOUR_US - 1) // HOUR_US
        if hours > 0:
            su_type, units = _service_units(inst, data.pci_requests[uuid])
            su_hours[(inst["project_id"], su_type)] += hours * units

    start_iso = w0.replace(tzinfo=timezone.utc).isoformat()
    end_iso = w1.replace(tzinfo=timezone.utc).isoformat()
    rows = []
    for (project, su_type), hours in su_hours.items():
        if hours <= 0:
            continue
        name, rate = RATES[su_type]
        cost = (Decimal(rate) * hours).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        rows.append(
            (w0.strftime("%Y-%m"), start_iso, end_iso, project, project, "", "stack", "", "", "",
             "N/A", hours, name, float(Decimal(rate)), float(cost))
        )
    return sorted(rows)


def read_invoice_csv(path: str) -> list[tuple]:
    """The CLI's CSV as comparable rows (``Generated At`` dropped); raises
    ValueError on a malformed file."""
    with open(path, newline="") as f:
        lines = list(csv.reader(f, delimiter=",", quotechar="|"))
    if not lines or lines[0] != CSV_HEADER:
        raise ValueError(f"unexpected invoice header: {lines[:1]}")
    rows = []
    for r in lines[1:]:
        if len(r) != len(CSV_HEADER):
            raise ValueError(f"invoice row has {len(r)} fields: {r}")
        rows.append((*r[:11], int(r[11]), r[12], float(r[13]), float(r[14])))
    return sorted(rows)


def _canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Column-name order, NaN spelled out, rows in a None-safe total order
    (the repository's oracle-parity canon)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [
        tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i]) else r[i] for i in idx)
        for r in rows
    ]
    return sorted(canon, key=lambda row: [(v is None, str(type(v)), str(v)) for v in row])


class DuckOracle:
    """DuckDB views over the generated parquet directories."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")

    def rowset(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        cols = list(rel.columns)
        return sorted(cols), _canon_rows(cols, rel.fetchall())

    def close(self) -> None:
        self.con.close()


def spark_rowset(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    return sorted(cols), _canon_rows(cols, [tuple(r) for r in df.collect()])
