"""Iceberg metadata-chain walk + the generic Avro encoder it rides on
(operators/iceberg.py, operators/avro.py make_avro_container)."""

from __future__ import annotations

import json

import pytest

from gmall_flink_210726_spark.operators.avro import (
    make_avro_container,
    read_avro_container,
)
from gmall_flink_210726_spark.operators.iceberg import (
    MANIFEST_SCHEMA,
    MLIST_SCHEMA,
    _make_iceberg_table,
    read_iceberg_snapshot,
)


class TestGenericAvroWriter:
    def test_roundtrip_all_codecs(self):
        recs = [
            {
                "status": s,
                "snapshot_id": None if s == 0 else 7,
                "data_file": {
                    "file_path": f"p{s}",
                    "file_format": "PARQUET",
                    "record_count": 10 * s,
                    "file_size_in_bytes": 100 + s,
                },
            }
            for s in (0, 1, 2)
        ]
        for codec in ("null", "deflate", "snappy"):
            blob = make_avro_container(
                MANIFEST_SCHEMA, recs, codec=codec
            )
            got = read_avro_container(blob)
            assert got is not None and got[0] == recs, codec

    def test_multi_block(self):
        recs = [
            {
                "manifest_path": f"m{k}",
                "manifest_length": k,
                "partition_spec_id": 0,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
            }
            for k in range(7)
        ]
        blob = make_avro_container(MLIST_SCHEMA, recs, per_block=3)
        got = read_avro_container(blob)
        assert got is not None and got[0] == recs and got[2] == 3


class TestSnapshotWalk:
    def test_decoy_snapshot_not_followed(self):
        """i=2 has 3 manifests; the decoy old snapshot covers one.
        Correct totals prove current-snapshot-id was followed."""
        got = read_iceberg_snapshot(_make_iceberg_table(2))
        assert got is not None and got["n_manifests"] == 3

    def test_length_lie_degrades(self):
        assert read_iceberg_snapshot(_make_iceberg_table(0)) is None
        assert read_iceberg_snapshot(_make_iceberg_table(13)) is None

    def test_count_lie_degrades(self):
        """Hand-build a table whose manifest list misstates
        added_files_count."""
        entries = [
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "file_path": "d",
                    "file_format": "PARQUET",
                    "record_count": 5,
                    "file_size_in_bytes": 50,
                },
            }
        ]
        man = make_avro_container(MANIFEST_SCHEMA, entries)
        mlist = make_avro_container(
            MLIST_SCHEMA,
            [
                {
                    "manifest_path": "manifest-0.avro",
                    "manifest_length": len(man),
                    "partition_spec_id": 0,
                    "added_files_count": 2,  # the lie
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                }
            ],
        )
        meta = json.dumps(
            {
                "format-version": 2,
                "table-uuid": "u",
                "current-snapshot-id": 1,
                "snapshots": [
                    {"snapshot-id": 1, "manifest-list": "snap.avro"}
                ],
            }
        ).encode()
        from gmall_flink_210726_spark.operators.tar import (
            _BLOCK,
            _make_header,
        )

        parts = []
        for name, payload in (
            ("manifest-0.avro", man),
            ("snap.avro", mlist),
            ("v1.metadata.json", meta),
        ):
            pad = (-len(payload)) % _BLOCK
            parts.append(
                _make_header(name, len(payload))
                + payload
                + b"\x00" * pad
            )
        blob = b"".join(parts) + b"\x00" * (2 * _BLOCK)
        assert read_iceberg_snapshot(blob) is None

    def test_missing_manifest_and_wrong_format_version(self):
        blob = _make_iceberg_table(2)
        # drop the metadata's current snapshot by renaming its list
        assert (
            read_iceberg_snapshot(
                blob.replace(b"snap-current.avro", b"snap-missing.avro", 1)
            )
            is None
        )
        assert (
            read_iceberg_snapshot(
                blob.replace(b'"format-version": 2', b'"format-version": 9')
            )
            is None
        )


class TestSchemaResolution:
    """Avro spec 'Schema Resolution' (round 11): name matching,
    skip, promotion, defaults, and the no-default error."""

    def test_rules_per_record(self):
        from gmall_flink_210726_spark.operators.avro import (
            READER_V2,
            _make_avro_v1,
            read_avro_resolved,
        )

        got = read_avro_resolved(_make_avro_v1(3), READER_V2)
        assert got is not None
        rec = got[0][0]
        assert set(rec) == {"id", "qty", "name", "score"}
        assert rec["score"] == 7  # default applied
        assert "vals" not in rec  # writer-only field dropped

    def test_missing_field_without_default_degrades(self):
        from gmall_flink_210726_spark.operators.avro import (
            READER_V2,
            _make_avro_v1,
            read_avro_resolved,
        )

        # the stripe container is VALID under its own writer schema...
        from gmall_flink_210726_spark.operators.avro import (
            read_avro_container,
        )

        blob = _make_avro_v1(10)
        assert read_avro_container(blob) is not None
        # ...but the v2 reader must refuse it
        assert read_avro_resolved(blob, READER_V2) is None

    def test_promotions(self):
        from gmall_flink_210726_spark.operators.avro import _decode_resolved
        from gmall_flink_210726_spark.operators.parquetmeta import _Reader
        from gmall_flink_210726_spark.operators.wire import _zz_enc

        def rdr(b):
            return _Reader(b, 0, len(b))

        assert _decode_resolved(rdr(_zz_enc(9)), "int", "long") == 9
        assert _decode_resolved(rdr(_zz_enc(9)), "int", "double") == 9.0
        body = _zz_enc(2) + b"ab"
        assert _decode_resolved(rdr(body), "string", "bytes") == b"ab"
        # the reverse demotion must fail
        try:
            _decode_resolved(rdr(_zz_enc(9)), "long", "int")
            raise AssertionError("demotion accepted")
        except ValueError:
            pass

    def test_reader_union_branch_matching(self):
        from gmall_flink_210726_spark.operators.avro import _decode_resolved
        from gmall_flink_210726_spark.operators.parquetmeta import _Reader
        from gmall_flink_210726_spark.operators.wire import _zz_enc

        # writer long resolved into reader ["null","long"]
        got = _decode_resolved(
            _Reader(_zz_enc(5), 0, len(_zz_enc(5))),
            "long",
            ["null", "long"],
        )
        assert got == 5


# ----------------------------------------------------- v2 merge-on-read

from gmall_flink_210726_spark.operators.iceberg import (  # noqa: E402
    _make_iceberg_mor_table,
    _mor_deleted,
    _mor_k,
    _mor_rows,
    _read_pos_delete_parquet,
    read_iceberg_mor,
)


@pytest.mark.parametrize("i", [1, 2, 3, 4, 5, 7, 8, 16, 29, 58, 101])
def test_mor_scan_matches_formula(i):
    st = read_iceberg_mor(_make_iceberg_mor_table(i))
    nf = 2 + i % 2
    deleted = live = ks = 0
    for f in range(nf):
        rows = _mor_rows(i, f)
        dels = set(_mor_deleted(i, f, rows))
        deleted += len(dels)
        live += rows - len(dels)
        ks += sum(_mor_k(i, f, j) for j in range(rows) if j not in dels)
    assert st == {
        "n_data_manifests": 1,
        "n_delete_manifests": 1,
        "data_files": nf,
        "delete_files": 1,
        "deleted_rows": deleted,
        "live_rows": live,
        "k_sum": ks,
    }


def test_mor_degrade_stripes():
    # 13-stripe: delete file truncated; 9-stripe: record_count lie
    for i in (13, 26, 9, 18, 0):
        assert read_iceberg_mor(_make_iceberg_mor_table(i)) is None


def test_pos_delete_reader_requires_sort_order():
    import pyarrow as pa

    from gmall_flink_210726_spark.operators.iceberg import _mor_parquet

    good = _mor_parquet(
        {
            "file_path": pa.array(["a", "a", "b"], pa.string()),
            "pos": pa.array([1, 5, 0], pa.int64()),
        }
    )
    assert _read_pos_delete_parquet(good) == [("a", 1), ("a", 5), ("b", 0)]
    bad = _mor_parquet(
        {
            "file_path": pa.array(["b", "a"], pa.string()),
            "pos": pa.array([0, 1], pa.int64()),
        }
    )
    assert _read_pos_delete_parquet(bad) is None


def test_mor_dangling_delete_refuses():
    # a delete row naming a file the snapshot does not contain
    blob = _make_iceberg_mor_table(2)
    patched = blob.replace(b"data/part-00000", b"data/part-99990", 1)
    # (first occurrence lives in the delete file's path column or a
    # manifest; either way the chain must refuse, not guess)
    assert read_iceberg_mor(patched) is None


# ------------------------------------------- v2 equality deletes

from gmall_flink_210726_spark.operators.iceberg import (  # noqa: E402
    _eq_deletes,
    _eq_k,
    _eq_rows,
    _make_iceberg_eq_table,
    _make_iceberg_prune_table,
    _prune_days,
    _prune_predicate,
    read_iceberg_eqdel,
    read_iceberg_manifest_prune,
)


@pytest.mark.parametrize("i", [1, 2, 3, 4, 5, 7, 8, 16, 29, 58, 101])
def test_eqdel_scan_matches_formula(i):
    st = read_iceberg_eqdel(_make_iceberg_eq_table(i))
    nf = 2 + i % 2
    dels = set(_eq_deletes(i))
    deleted = live = ks = 0
    for f in range(nf):
        for j in range(_eq_rows(i, f)):
            k = _eq_k(i, f, j)
            if k in dels:
                deleted += 1
            else:
                live += 1
                ks += k
    assert st == {
        "data_files": nf,
        "delete_files": 1,
        "n_delete_values": len(dels),
        "eq_deleted_rows": deleted,
        "live_rows": live,
        "k_sum": ks,
    }


def test_eqdel_deletes_really_hit_in_aggregate():
    # the small key modulus makes value collisions common (not
    # guaranteed per id — id 101's residues miss entirely)
    hit = sum(
        read_iceberg_eqdel(_make_iceberg_eq_table(i))["eq_deleted_rows"]
        for i in (1, 2, 3, 4, 5)
    )
    assert hit > 0


def test_eqdel_degrade_stripes():
    for i in (13, 26, 9, 18, 0):
        assert read_iceberg_eqdel(_make_iceberg_eq_table(i)) is None


def test_eqdel_equality_ids_enforced():
    blob = _make_iceberg_eq_table(1)
    # a delete entry whose equality_ids claim is wrong must refuse:
    # the fixture writes [1]; patch the data manifest to simulate a
    # content flag drift instead (cheap targeted corruption)
    patched = blob.replace(b"eq-deletes-00000", b"xx-deletes-00000")
    assert read_iceberg_eqdel(patched) is None


# --------------------------------------- manifest partition pruning


@pytest.mark.parametrize("i", [1, 2, 3, 4, 5, 7, 8, 16, 29, 58, 101])
def test_prune_matches_formula_and_prunes(i):
    lo, hi = _prune_predicate(i)
    st = read_iceberg_manifest_prune(
        _make_iceberg_prune_table(i), lo, hi
    )
    nm = 3 + i % 3
    exp_read = exp_fr = exp_fs = exp_rs = 0
    for m in range(nm):
        d1, d2 = _prune_days(i, m)
        if max(d1, d2) < lo or min(d1, d2) > hi:
            continue
        exp_read += 1
        for e, d in enumerate((d1, d2)):
            exp_fr += 1
            if lo <= d <= hi:
                exp_fs += 1
                exp_rs += 10 + (i + 5 * m + e) % 90
    assert st == {
        "n_manifests": nm,
        "n_manifests_read": exp_read,
        "data_files_read": exp_fr,
        "files_selected": exp_fs,
        "rows_selected": exp_rs,
    }


def test_prune_actually_prunes_in_aggregate():
    tot = read = 0
    for i in range(1, 120):
        if i % 13 == 0 or i % 9 == 0:
            continue
        lo, hi = _prune_predicate(i)
        st = read_iceberg_manifest_prune(
            _make_iceberg_prune_table(i), lo, hi
        )
        tot += st["n_manifests"]
        read += st["n_manifests_read"]
    assert read < tot * 0.7


def test_prune_degrade_stripes():
    # 13: truncated manifest list; 9: a selected manifest's summary
    # lies about a file's day (or, with nothing selected, the list
    # is corrupted so the stripe stays deterministic)
    for i in (13, 26, 9, 18, 27, 0):
        lo, hi = _prune_predicate(i)
        assert (
            read_iceberg_manifest_prune(
                _make_iceberg_prune_table(i), lo, hi
            )
            is None
        )


class TestTimeTravel:
    """TIMESTAMP AS OF via snapshot-log: resolves the latest entry at
    or before the instant; ascending-log and resolvable-id required;
    pre-creation as-of refuses."""

    def test_asof_resolution(self):
        from gmall_flink_210726_spark.operators.iceberg import (
            _make_iceberg_table,
            read_iceberg_asof,
            read_iceberg_snapshot,
        )

        blob = _make_iceberg_table(2)  # 3 manifests current
        cur = read_iceberg_snapshot(blob)
        mid = read_iceberg_asof(blob, 1_700_000_030_000)
        late = read_iceberg_asof(blob, 1_900_000_000_000)
        assert mid is not None and mid["n_manifests"] == 1
        assert late is not None
        assert late["n_manifests"] == cur["n_manifests"] == 3
        assert read_iceberg_asof(blob, 1) is None  # pre-creation

    def test_asof_lies(self):
        from gmall_flink_210726_spark.operators.iceberg import (
            _make_iceberg_table,
            read_iceberg_asof,
            read_iceberg_snapshot,
        )

        t = 1_700_000_030_000
        # missing snapshot-id in the log (23-stripe)
        assert read_iceberg_asof(_make_iceberg_table(23), t) is None
        # descending log (29-stripe)
        assert read_iceberg_asof(_make_iceberg_table(29), t) is None
        # both lies are INVISIBLE to the current-snapshot reader
        assert read_iceberg_snapshot(_make_iceberg_table(23)) is not None
        assert read_iceberg_snapshot(_make_iceberg_table(29)) is not None
