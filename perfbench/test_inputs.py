"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest -q perfbench/test_inputs.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import oracles  # noqa: E402

TABLES = ("documents", "events", "orders")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _registry(tmp_path, tag: str, seed: int) -> str:
    out = str(tmp_path / tag)
    inputs.write_registry_tables(out, seed, sf=0.001, n_docs=200, tables=TABLES)
    return out


def test_nova_dump_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / f"{k}.sql.gz") for k in "abc")
    inputs.write_nova_dump(a, 7, 200)
    inputs.write_nova_dump(b, 7, 200)
    inputs.write_nova_dump(c, 8, 200)
    assert open(a, "rb").read() == open(b, "rb").read()
    assert open(a, "rb").read() != open(c, "rb").read()


def test_nova_dump_has_the_edge_cases():
    data = inputs.generate_nova(3, 400)
    w0, w1 = inputs.WINDOW
    times = {t for _, t, _, _ in data.actions}
    assert w0 in times and w1 in times
    assert any(m == "Error" for *_, m in data.actions)
    deleted = [r for r in data.instances if r["deleted_at"] is not None]
    assert any(r["deleted_at"] < w0 for r in deleted) and any(r["deleted_at"] > w0 for r in deleted)
    pci = [p for p in data.pci_requests.values() if p]
    assert any('"a2"' in p for p in pci) and any(p.count("alias_name") > 1 for p in pci)
    assert oracles.expected_invoice(data)


def test_registry_tables_same_seed_same_bytes(tmp_path):
    assert _files(_registry(tmp_path, "a", 5)) == _files(_registry(tmp_path, "b", 5))


def test_registry_seed_changes_layout_not_content(tmp_path):
    a, b = _registry(tmp_path, "a", 5), _registry(tmp_path, "b", 6)
    assert _files(a) != _files(b)
    for t in TABLES:
        rows_a = pq.read_table(f"{a}/{t}.parquet").to_pylist()
        rows_b = pq.read_table(f"{b}/{t}.parquet").to_pylist()
        key = lambda r: str(sorted(r.items()))  # noqa: E731
        assert sorted(rows_a, key=key) == sorted(rows_b, key=key)
