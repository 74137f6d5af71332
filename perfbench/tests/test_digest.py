import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import digest


def _rows():
    return [
        ("conv-1", 0, "hello", "valid", "text/plain"),
        ("conv-1", 1, "", "rejected", "application/octet-stream"),
        ("conv-2", 0, None, "valid", "text/html"),
    ]


def _expected(rows):
    return {(r[0], r[1]): digest.row_hash(*r) for r in rows}


def _actual(rows):
    return [((r[0], r[1]), digest.row_hash(*r)) for r in rows]


def test_digest_ignores_order():
    rows = _rows()
    a = digest.table_digest(digest.row_hash(*r) for r in rows)
    b = digest.table_digest(digest.row_hash(*r) for r in reversed(rows))
    assert a == b


def test_digest_sees_duplicates_and_field_changes():
    rows = _rows()
    base = digest.table_digest(digest.row_hash(*r) for r in rows)
    assert digest.table_digest(digest.row_hash(*r) for r in rows + rows[:1]) != base
    changed = [rows[0][:4] + ("text/html",)] + rows[1:]
    assert digest.table_digest(digest.row_hash(*r) for r in changed) != base


def test_null_differs_from_text():
    assert digest.row_hash("c", 0, None, "valid", "t") != digest.row_hash("c", 0, "", "valid", "t")
    assert digest.row_hash("c", 0, None, "valid", "t") != digest.row_hash("c", 0, "None", "valid", "t")


def test_compare_counts_each_kind_of_failure():
    rows = _rows()
    exp = _expected(rows)
    ok = digest.compare(exp, _actual(rows))
    assert ok.ok and ok.failed == 0 and ok.expected == 3

    bad_text = [rows[0][:2] + ("hullo",) + rows[0][3:]]
    actual = _actual(bad_text + rows[1:2] + rows[1:2] + [("conv-9", 0, "x", "valid", "t")])
    chk = digest.compare(exp, actual)
    assert (chk.missing, chk.duplicated, chk.mismatched, chk.unexpected) == (1, 1, 1, 1)
    assert chk.failed == 4 and not chk.ok


def test_expected_roundtrip_and_output_hashes(tmp_path):
    rows = _rows()
    exp_path = str(tmp_path / "expected.parquet")
    digest.write_expected([(r[0], r[1], digest.row_hash(*r)) for r in rows], exp_path)
    assert digest.read_expected(exp_path) == _expected(rows)

    # a hive-partitioned output table, as the extraction job writes it
    for bucket, part in ((0, rows[:2]), (1, rows[2:])):
        d = tmp_path / "out" / f"bucket={bucket}"
        d.mkdir(parents=True)
        cols = list(zip(*part))
        pq.write_table(
            pa.table({
                "conv_id": pa.array(cols[0], pa.string()),
                "turn_idx": pa.array(cols[1], pa.int32()),
                "extracted_text": pa.array(cols[2], pa.string()),
                "parse_status": pa.array(cols[3], pa.string()),
                "detected_content_type": pa.array(cols[4], pa.string()),
                "chars_in": pa.array([1] * len(part), pa.int32()),
            }),
            str(d / "part-0.parquet"),
        )
    (tmp_path / "out" / "_SUCCESS").write_text("")
    chk = digest.compare(digest.read_expected(exp_path), digest.output_hashes(str(tmp_path / "out")))
    assert chk.ok
