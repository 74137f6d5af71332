"""Order-independent digest of an extracted table and the per-turn check.

Each turn hashes (conv_id, turn_idx, extracted_text, parse_status,
detected_content_type). The table digest is the count plus the sum of the
row hashes modulo 2**128, so it does not depend on row order, partitioning
or file layout, and a duplicated row changes it. The check compares turn by
turn so that a failure can be counted: every missing, duplicated,
mismatched or unexpected turn is one failed turn.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DIGEST_COLUMNS = [
    "conv_id", "turn_idx", "extracted_text", "parse_status", "detected_content_type",
]
_SEP = "\x1f"
_NULL = "\x00null"


def row_hash(conv_id, turn_idx, extracted_text, parse_status, ctype) -> bytes:
    fields = (conv_id, turn_idx, extracted_text, parse_status, ctype)
    joined = _SEP.join(_NULL if f is None else str(f) for f in fields)
    return hashlib.blake2b(joined.encode("utf-8", "surrogatepass"), digest_size=16).digest()


def table_digest(hashes) -> str:
    """Order-independent digest of an iterable of 16-byte row hashes."""
    n = 0
    total = 0
    for h in hashes:
        n += 1
        total = (total + int.from_bytes(h, "big")) % (1 << 128)
    return f"{n}:{total:032x}"


def write_expected(rows: list[tuple[str, int, bytes]], path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows], pa.string()),
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
                "h": pa.array([r[2] for r in rows], pa.binary(16)),
            }
        ),
        path,
    )


def read_expected(path: str) -> dict[tuple[str, int], bytes]:
    t = pq.read_table(path)
    return dict(
        zip(
            zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()),
            t.column("h").to_pylist(),
        )
    )


def output_hashes(target: str) -> list[tuple[tuple[str, int], bytes]]:
    """(key, row hash) for every row of a written extraction table."""
    dataset = ds.dataset(target, format="parquet", partitioning="hive")
    out = []
    for batch in dataset.to_batches(columns=DIGEST_COLUMNS):
        cols = [batch.column(c).to_pylist() for c in DIGEST_COLUMNS]
        for conv, idx, text, status, ctype in zip(*cols):
            out.append(((conv, idx), row_hash(conv, idx, text, status, ctype)))
    return out


@dataclass
class Check:
    expected: int
    missing: int
    duplicated: int
    mismatched: int
    unexpected: int
    digest_expected: str
    digest_actual: str

    @property
    def failed(self) -> int:
        return self.missing + self.duplicated + self.mismatched + self.unexpected

    @property
    def ok(self) -> bool:
        return self.failed == 0 and self.digest_expected == self.digest_actual


def compare(
    expected: dict[tuple[str, int], bytes],
    actual: list[tuple[tuple[str, int], bytes]],
) -> Check:
    seen: set[tuple[str, int]] = set()
    duplicated = mismatched = unexpected = 0
    for key, h in actual:
        if key in seen:
            duplicated += 1
            continue
        seen.add(key)
        want = expected.get(key)
        if want is None:
            unexpected += 1
        elif want != h:
            mismatched += 1
    return Check(
        expected=len(expected),
        missing=len(expected.keys() - seen),
        duplicated=duplicated,
        mismatched=mismatched,
        unexpected=unexpected,
        digest_expected=table_digest(expected.values()),
        digest_actual=table_digest(h for _, h in actual),
    )
