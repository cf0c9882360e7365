"""Ingest-path parity (VERDICT.md missing items 1-3): S3 dump discovery
with an injectable client (ref fetch.py:11-95), the nerc-rates HTTP rate
card with an injectable fetcher (ref main.py:174-192), and the
mysqldump→parquet converter (ref fetch.py:98-124) feeding the real
billing plan."""

from __future__ import annotations

import gzip
import math
import os
import tempfile
from datetime import datetime
from decimal import Decimal

import pytest

from openstack_billing_from_db_spark.sources.fetch import (
    download_latest_dump_from_s3,
    find_latest_dump_key,
)
from openstack_billing_from_db_spark.sources.mysqldump import (
    NOVA_TABLES,
    mysqldump_to_parquet,
    nova_tables_from_dump,
)
from openstack_billing_from_db_spark.sources.rates import (
    fetch_rate_card,
    rates_from_url,
)


# --- S3 dump discovery ------------------------------------------------------


class FakeS3:
    """list_objects_v2/download_file double mirroring the boto3 client
    surface the reference uses (fetch.py:56-83)."""

    def __init__(self, objects: dict[str, bytes]):
        self.objects = objects
        self.listed_prefixes: list[str] = []

    def list_objects_v2(self, Bucket, Prefix):
        self.listed_prefixes.append(Prefix)
        keys = sorted(k for k in self.objects if k.startswith(Prefix))
        return {"Contents": [{"Key": k} for k in keys]} if keys else {}

    def download_file(self, bucket, key, dest):
        with open(dest, "wb") as f:
            f.write(self.objects[key])


def test_dump_discovery_falls_through_controllers(tmp_path):
    dump_sql = b"-- MySQL dump\n"
    s3 = FakeS3(
        {"dbs/nerc-ctl-1/nova-20240202000002.sql.gz": gzip.compress(dump_sql)}
    )
    path = download_latest_dump_from_s3(
        s3, today="20240202", download_dir=str(tmp_path)
    )
    # ctl-0 was tried first, ctl-1 matched (reference fetch.py:65-70)
    assert s3.listed_prefixes == [
        "dbs/nerc-ctl-0/nova-20240202",
        "dbs/nerc-ctl-1/nova-20240202",
    ]
    # downloaded and gunzipped in place, .gz removed
    assert path.endswith("nova-20240202000002.sql")
    assert open(path, "rb").read() == dump_sql
    assert not os.path.exists(path + ".gz")


def test_dump_discovery_no_dumps_raises():
    with pytest.raises(FileNotFoundError, match="20240303"):
        find_latest_dump_key(FakeS3({}), "nerc-osp-backups", "20240303")


# --- nerc-rates rate card ---------------------------------------------------


RATES_YAML = """
rates:
  - name: CPU SU Rate
    history:
      - value: "0.013"
        from: 2023-06
  - name: GPUA100SXM4 SU Rate
    history:
      - value: "2.078"
        from: 2023-06
  - name: GPUA100 SU Rate
    history:
      - value: "1.500"
        from: 2023-06
        until: 2023-12
      - value: "1.803"
        from: 2024-01
  - name: GPUV100 SU Rate
    history: [{value: "1.214", from: 2023-06}]
  - name: GPUK80 SU Rate
    history: [{value: "0.463", from: 2023-06}]
  - name: GPUA2 SU Rate
    history: [{value: "0.463", from: 2023-06}]
  - name: Charge for Stopped Instances
    history: [{value: "True", from: 2023-06}]
"""


def test_fetch_rate_card_month_ranges():
    fetched_urls = []

    def fake_fetcher(url):
        fetched_urls.append(url)
        return RATES_YAML

    card, include_stopped = fetch_rate_card("2024-01", fetcher=fake_fetcher)
    assert include_stopped is True
    by_type = {t: r for t, _, r in card}
    # 2024-01 falls in the SECOND a100 history entry
    assert by_type["gpu_a100"] == Decimal("1.803")
    assert by_type["cpu"] == Decimal("0.013")

    old_card, _ = fetch_rate_card("2023-07", fetcher=fake_fetcher)
    assert {t: r for t, _, r in old_card}["gpu_a100"] == Decimal("1.500")
    assert fetched_urls and fetched_urls[0].startswith("https://")


def test_rates_from_url_dataframe(spark):
    df = rates_from_url(spark, "https://example/rates.yaml", "2024-01",
                        fetcher=lambda u: RATES_YAML)
    rows = {r.service_unit_type: r for r in df.collect()}
    assert len(rows) == 6 and float(rows["gpu_a100"].rate) == 1.803


def test_rate_missing_month_raises():
    with pytest.raises(KeyError, match="CPU SU Rate"):
        fetch_rate_card("2023-01", fetcher=lambda u: RATES_YAML)


# --- mysqldump → parquet ----------------------------------------------------


NOVA_DUMP = r"""-- MySQL dump 10.13  Distrib 8.0
DROP TABLE IF EXISTS `instances`;
CREATE TABLE `instances` (
  `created_at` datetime DEFAULT NULL,
  `deleted_at` datetime DEFAULT NULL,
  `uuid` varchar(36) NOT NULL,
  `hostname` varchar(255) DEFAULT NULL,
  `project_id` varchar(255) DEFAULT NULL,
  `instance_type_id` int DEFAULT NULL,
  `vcpus` int DEFAULT NULL,
  `memory_mb` int DEFAULT NULL,
  `deleted` int DEFAULT NULL,
  PRIMARY KEY (`uuid`),
  KEY `instances_project_id_idx` (`project_id`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb3;
INSERT INTO `instances` VALUES ('2000-01-01 00:00:00',NULL,'cpu1','box\'s host','projA',1,2,8192,0),('2000-01-01 00:00:00','2000-01-02 00:00:00','gpu1','gpu, box','projA',2,4,16384,1);
INSERT INTO `instances` VALUES ('2000-01-01 00:00:00',NULL,'cpu2','plain','projB',1,8,4096,0);
DROP TABLE IF EXISTS `instance_extra`;
CREATE TABLE `instance_extra` (
  `instance_uuid` varchar(36) NOT NULL,
  `pci_requests` text
) ENGINE=InnoDB;
INSERT INTO `instance_extra` VALUES ('cpu1',NULL),('gpu1','[{"count": "2", "alias_name": "a100"}]'),('cpu2','[]');
DROP TABLE IF EXISTS `instance_actions`;
CREATE TABLE `instance_actions` (
  `created_at` datetime DEFAULT NULL,
  `instance_uuid` varchar(36) DEFAULT NULL,
  `action` varchar(255) DEFAULT NULL,
  `message` varchar(255) DEFAULT NULL
) ENGINE=InnoDB;
INSERT INTO `instance_actions` VALUES ('2000-01-01 00:00:00','cpu1','create',''),('2000-01-01 10:00:00','cpu1','delete',''),('2000-01-01 00:00:00','gpu1','create',''),('2000-01-01 00:00:00','cpu2','create',NULL);
DROP TABLE IF EXISTS `unrelated`;
CREATE TABLE `unrelated` (
  `x` int DEFAULT NULL
) ENGINE=InnoDB;
INSERT INTO `unrelated` VALUES (1),(2);
"""


def _write_dump(tmp_path, gzipped=False) -> str:
    if gzipped:
        p = str(tmp_path / "nova.sql.gz")
        with gzip.open(p, "wt") as f:
            f.write(NOVA_DUMP)
    else:
        p = str(tmp_path / "nova.sql")
        with open(p, "w") as f:
            f.write(NOVA_DUMP)
    return p


def test_mysqldump_to_parquet_values(spark, tmp_path):
    paths = mysqldump_to_parquet(
        _write_dump(tmp_path), str(tmp_path / "pq"),
        tables=("instances", "instance_extra", "instance_actions"),
    )
    assert set(paths) == {"instances", "instance_extra", "instance_actions"}
    inst = {r.uuid: r for r in spark.read.parquet(paths["instances"]).collect()}
    assert len(inst) == 3
    # MySQL escapes round-trip: \' and an embedded comma
    assert inst["cpu1"].hostname == "box's host"
    assert inst["gpu1"].hostname == "gpu, box"
    assert inst["cpu1"].deleted_at is None and inst["gpu1"].deleted == 1
    assert inst["cpu2"].vcpus == 8
    acts = spark.read.parquet(paths["instance_actions"]).collect()
    assert len(acts) == 4 and any(r.message is None for r in acts)


def test_dump_golden_matches_direct_load(spark, tmp_path):
    """nova_instance_dim over converted dump output == the same data
    loaded directly as DataFrames (VERDICT.md item 6's done-criterion)."""
    from openstack_billing_from_db_spark.plans.billing import nova_instance_dim
    from openstack_billing_from_db_spark.schemas import INSTANCE_EXTRA, INSTANCES

    instances, extra, actions = nova_tables_from_dump(
        spark, _write_dump(tmp_path, gzipped=True), str(tmp_path / "pq")
    )
    dim_dump = nova_instance_dim(instances, extra, datetime(2000, 1, 1))

    direct_inst = spark.createDataFrame(
        [
            ("cpu1", "box's host", "projA", 1, 2, 8192, 0, None),
            ("gpu1", "gpu, box", "projA", 2, 4, 16384, 1, datetime(2000, 1, 2)),
            ("cpu2", "plain", "projB", 1, 8, 4096, 0, None),
        ],
        INSTANCES,
    )
    direct_extra = spark.createDataFrame(
        [
            ("cpu1", None),
            ("gpu1", '[{"count": "2", "alias_name": "a100"}]'),
            ("cpu2", "[]"),
        ],
        INSTANCE_EXTRA,
    )
    dim_direct = nova_instance_dim(direct_inst, direct_extra, datetime(2000, 1, 1))

    key = lambda r: r["uuid"]
    got = sorted(([r.asDict() for r in dim_dump.collect()]), key=key)
    want = sorted(([r.asDict() for r in dim_direct.collect()]), key=key)
    assert got == want and len(got) == 3


def test_cli_invoices_from_dump(tmp_path, spark):
    """The reference's actual daily workflow: dump file in, CSV out."""
    from openstack_billing_from_db_spark.cli import main

    out = str(tmp_path / "inv.csv")
    main(
        [
            "--sql-dump-file", _write_dump(tmp_path),
            "--convert-sql-dump-file-to-sqlite",
            "--start", "2000-01-01",
            "--end", "2000-02-01",
            "--output", out,
        ]
    )
    lines = open(out).read().splitlines()
    body = [ln for ln in lines[1:] if ln]
    # cpu1 10h×2SU @0.013 → 0.26; gpu1 24h×2SU @1.803 → 86.54
    assert any(",20,OpenStack CPU,0.013,0.26," in ln for ln in body), body
    assert any(",48,OpenStack GPUA100,1.803,86.54," in ln for ln in body), body


def test_cli_dump_run_removes_its_parquet_temp_dir(tmp_path, spark, monkeypatch):
    """The converted parquet lives in a temp dir that is gone once the CSV
    is written."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    test_cli_invoices_from_dump(tmp_path, spark)
    assert not list(scratch.glob("nova_dump_pq_*"))


def test_mysqldump_batch_rows_sets_row_groups_only(tmp_path):
    """batch_rows changes the row-group layout, never the rows; tables not
    asked for get no file."""
    import pyarrow.parquet as pq

    dump = _write_dump(tmp_path)
    default = mysqldump_to_parquet(dump, str(tmp_path / "default"), tables=NOVA_TABLES)
    tiny = mysqldump_to_parquet(dump, str(tmp_path / "tiny"), tables=NOVA_TABLES, batch_rows=1)
    for table in NOVA_TABLES:
        assert pq.read_table(tiny[table]).equals(pq.read_table(default[table]))
    assert pq.ParquetFile(default["instances"]).num_row_groups == 1
    assert pq.ParquetFile(tiny["instances"]).num_row_groups == 3
    assert set(tiny) == set(NOVA_TABLES)
    assert sorted(os.listdir(tmp_path / "tiny")) == sorted(f"{t}.parquet" for t in NOVA_TABLES)


_SMALL_DUMP = """CREATE TABLE `t` (
  `a` int DEFAULT NULL,
  `b` varchar(255) DEFAULT NULL
) ENGINE=InnoDB;
INSERT INTO `t` VALUES (1,'x'),(2,NULL);
INSERT INTO `t` VALUES {values}
"""


@pytest.mark.parametrize(
    "values, error",
    [
        ("(3,'y'),(4);", "row width 1 != schema 2"),
        ("(3,'y',5);", "row width 3 != schema 2"),
        ("(3,'unterminated);", "malformed VALUES"),
        ("(3,'y'),(4,'z", "malformed VALUES"),  # dump cut mid-string
        ("(3,'y'),(4,'z')", "malformed VALUES"),  # dump cut between rows
        ("(3,'y') junk (4,'z');", "malformed VALUES"),
        ("3,'y');", "malformed VALUES"),
    ],
)
def test_mysqldump_malformed_insert_names_table_and_line(tmp_path, values, error):
    path = tmp_path / "bad.sql"
    path.write_text(_SMALL_DUMP.format(values=values))
    with pytest.raises(ValueError) as exc:
        mysqldump_to_parquet(str(path), str(tmp_path / "pq"))
    msg = str(exc.value)
    assert msg.startswith(f"t: {error}") and msg.endswith("(dump line 6)"), msg


# --- tokenizer fuzz: render random rows as MySQL INSERT syntax, parse back ---

from hypothesis import given, settings, strategies as st

from openstack_billing_from_db_spark.sources.mysqldump import iter_value_tuples


def _render_sql_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (int, float)):
        return repr(v)
    out = v.replace("\\", "\\\\").replace("'", "\\'")
    out = out.replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
    return f"'{out}'"


_cell = st.one_of(
    st.none(),
    st.integers(-(2**62), 2**62),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
        max_size=24,
    ),
)


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=5))
def test_iter_value_tuples_round_trip(rows):
    width = len(rows[0])
    rows = [r[:width] + [None] * (width - len(r)) for r in rows]
    text = ",".join("(" + ",".join(_render_sql_value(v) for v in r) + ")" for r in rows)
    got = list(iter_value_tuples(text + ";"))
    assert got == rows


@pytest.mark.parametrize("text", ["(1,'abc", "(1,2", "(1,2)", "(1),,(2);", "(1)(2);"])
def test_iter_value_tuples_rejects_malformed(text):
    with pytest.raises(ValueError, match="malformed VALUES"):
        list(iter_value_tuples(text))


# --- converter fuzz: random schemas and rows rendered as a dump, converted ---

# column kind → (MySQL type, arrow type the converter maps it to)
_KINDS = {
    "int": ("int", "int64"),
    "bigint": ("bigint", "int64"),
    "double": ("double", "float64"),
    "varchar": ("varchar(255)", "string"),
    "text": ("text", "string"),
}
_finite = st.floats(allow_nan=False, allow_infinity=False)
_awkward_text = st.lists(
    st.one_of(
        st.sampled_from(["'", "\\", "),(", "(", ",", "\n", "\t", "\r", "\0", ";", "NULL", "''"]),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=8,
).map("".join)
_ARROW_CELLS = {
    "int64": st.integers(-(2**63), 2**63 - 1),
    "float64": st.one_of(_finite, st.integers(-(2**53), 2**53)),
    "string": st.one_of(_awkward_text, st.integers(-(2**62), 2**62), _finite),
}


def _render_dump_value(v, doubled_quotes: bool) -> str:
    if v is None:
        return "NULL"
    if not isinstance(v, str):
        return repr(v)
    out = v.replace("\\", "\\\\").replace("'", "''" if doubled_quotes else "\\'")
    out = out.replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
    return "'" + out.replace("\0", "\\0") + "'"


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_mysqldump_to_parquet_round_trip(tmp_path_factory, data):
    import pyarrow as pa
    import pyarrow.parquet as pq

    kinds = data.draw(st.lists(st.sampled_from(sorted(_KINDS)), min_size=1, max_size=6))
    schema = pa.schema([(f"c{k}", _KINDS[kind][1]) for k, kind in enumerate(kinds)])
    rows = data.draw(
        st.lists(
            st.tuples(*(st.one_of(st.none(), _ARROW_CELLS[_KINDS[k][1]]) for k in kinds)),
            min_size=2,
            max_size=12,
        )
    )
    doubled = data.draw(st.booleans())
    cut = data.draw(st.integers(1, len(rows) - 1))
    batch_rows = data.draw(st.integers(1, 5))

    columns = ",\n".join(f"  `c{k}` {_KINDS[kind][0]} DEFAULT NULL" for k, kind in enumerate(kinds))
    lines = [f"CREATE TABLE `fuzz` (\n{columns}\n) ENGINE=InnoDB;\n"]
    for part in (rows[:cut], rows[cut:]):
        tuples = ",".join(
            "(" + ",".join(_render_dump_value(v, doubled) for v in r) + ")" for r in part
        )
        lines.append(f"INSERT INTO `fuzz` VALUES {tuples};\n")
    tmp = tmp_path_factory.mktemp("fuzz")
    dump = tmp / "fuzz.sql"
    dump.write_text("".join(lines), encoding="utf-8")

    paths = mysqldump_to_parquet(str(dump), str(tmp / "pq"), batch_rows=batch_rows)

    # bare numbers in string columns keep their Python str()
    want = pa.Table.from_pylist(
        [
            {
                f.name: str(v) if f.type == pa.string() and v is not None and not isinstance(v, str) else v
                for f, v in zip(schema, r)
            }
            for r in rows
        ],
        schema=schema,
    )
    got = pq.ParquetFile(paths["fuzz"])
    assert got.read().equals(want)
    assert got.num_row_groups == math.ceil(len(rows) / batch_rows)
