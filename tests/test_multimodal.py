"""Perceptual-hash near-duplicate matching (operators/multimodal.py): the
4x16-bit band equi-join finds every pair within Hamming distance 3."""

from __future__ import annotations

from llm_document_parser_spark.operators import multimodal as mm


def test_dhash_near_dup_pairs_banded(spark):
    base = 0x123456789ABCDEF0
    rows = [
        ("a", base),
        ("b", base),                      # identical -> hamming 0
        ("c", base ^ (1 << 5)),           # 1 bit off -> hamming 1
        ("d", base ^ 0b111 << 20),        # 3 bits off (same band) -> hamming 3
        ("e", base ^ ((1 << 0) | (1 << 17) | (1 << 34) | (1 << 51))),
        # ^ 4 bits spread over all 4 bands -> no shared band, correctly
        #   outside the max_hamming=3 contract
        ("f", ~base),                     # far away
    ]
    df = spark.createDataFrame(rows, "url string, dhash long")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.dhash_near_dup_pairs(df).collect()
    }
    assert pairs[("a", "b")] == 0
    assert pairs[("a", "c")] == 1 and pairs[("b", "c")] == 1
    assert pairs[("a", "d")] == 3
    assert all("f" not in p for p in pairs)
    assert all("e" not in p for p in pairs)


def test_dhash_pigeonhole_completeness(spark):
    """Every <=3-bit perturbation of a hash is found by the banded join
    (pigeonhole: 4 bands, at most 3 differing bits)."""
    base = -0x7EDCBA9876543211  # negative long exercises unsigned shifts

    def xor64(a, b):  # signed-64 wraparound (python ints are unbounded)
        v = (a ^ b) & ((1 << 64) - 1)
        return v - (1 << 64) if v >= (1 << 63) else v

    perturbed = []
    bits = [1, 13, 16, 31, 32, 47, 48, 63]
    k = 0
    for i in bits:
        for j in bits:
            v = xor64(base, (1 << i) | (1 << j))  # hamming 2 (0 when i==j)
            if v != base:
                perturbed.append((f"p{k}", v))
                k += 1
    df = spark.createDataFrame([("base", base)] + perturbed, "url string, dhash long")
    got = {
        r["id_b"] for r in mm.dhash_near_dup_pairs(df).collect() if r["id_a"] == "base"
    } | {
        r["id_a"] for r in mm.dhash_near_dup_pairs(df).collect() if r["id_b"] == "base"
    }
    assert got == {name for name, _ in perturbed}

