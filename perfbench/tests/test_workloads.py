from tika_addons_spark import fixtures
from tika_addons_spark.functions import sniff

from perfbench import workloads


def test_chunk_is_seeded_and_digests_every_turn():
    args = (1, 6, 3, None)
    t1, e1 = workloads._generate_chunk(args)
    t2, e2 = workloads._generate_chunk(args)
    assert t1.equals(t2) and e1 == e2
    assert len(e1) == t1.num_rows
    # the default mix is the fixture table itself
    rows = [r for c in range(1, 6) for r in fixtures.conversation_rows(c, seed=3)]
    assert t1.column("text").to_pylist() == [r["text"] for r in rows]
    _, e3 = workloads._generate_chunk((1, 6, 4, None))
    assert e3 != e1


def test_plain_bulk_stays_in_the_plain_lane():
    wl = workloads.WORKLOADS["plain_bulk"]
    table, _ = workloads._generate_chunk((0, 40, 5, wl.mix))
    kinds = {sniff.sniff_one(t) for t in table.column("text").to_pylist()}
    assert kinds <= {sniff.MIME_PLAIN, sniff.MIME_EMPTY}
    assert sniff.MIME_EMPTY in kinds
    # the patched archetype table is restored afterwards
    assert fixtures.ARCHETYPES[0] == ("plain", 0.31)
    assert "plain_poison" not in fixtures._GEN
