"""pykmertools API parity: the reference's own pytest suite, re-run
against kmertools_spark.pyapi (reference tests/test_{oligo,cgr,min,
kmers,utils}.py, goldens from test_data/ when present)."""

import os

import pytest

import kmertools_spark.pyapi as kt
from kmertools_spark.pyapi import utils as ktutils

REF = "/root/reference/test_data"
READ_1 = "GGGTGATGGCCGCTGCCGATGGCGTCAAATCCCACCAAGTTACCCTTAACAACTTAAGGGTTTTCAAATAGA"
READ_2 = "GTTCAGGGATACGACGTTTGTATTTTAAGAATCTGAAGCAGAAGTCGATGATAATACGCGTCGTTTTATCAT"
BLOG = (
    "ATGCGATATCGTAGGCGTCGATGGAGAGCTAGATCGATCGATCTAAATCCCGATCGATTCCGAGCGCGATC"
    "AAAGCGCGATAGGCTAGCTAAAGCTAGCA"
)


def test_oligo():
    # reference tests/test_oligo.py:8-25
    gen = kt.OligoComputer(4)
    got = [
        [round(x, 6) for x in line] for line in gen.vectorise_batch([READ_1, READ_2])
    ]
    if os.path.isdir(REF):
        truth = [
            [float(x) for x in line.split()]
            for line in open(f"{REF}/expected_fa.kmers").read().splitlines()
        ]
        for g, t in zip(got, truth):
            assert g == t
    assert len(got[0]) == 136


def test_oligo_header():
    # reference tests/test_oligo.py:28-35
    gen = kt.OligoComputer(4)
    assert len(gen.get_header()) == 136
    assert len(gen.get_header(False)) == 256
    assert gen.get_header()[0] == "AAAA"
    assert gen.get_header()[135] == "TTAA"


def test_oligo_raw_binding_quirk():
    # pybindings/src/oligo.rs:59-63: raw-mode norm divides by 2x count
    gen = kt.OligoComputer(4)
    v = gen.vectorise_one("AAAANGAGA", norm=True, mins=False)
    assert sum(v) == pytest.approx(0.5)  # 2 kmers / max(1, 2*2)


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference corpus absent")
def test_cgr():
    # reference tests/test_cgr.py:8-22
    gen = kt.CgrComputer(1)
    got = gen.vectorise_batch([READ_1, READ_2])
    truth = [
        [eval(item) for item in line.split(" ")]
        for line in open(f"{REF}/expected_reads.cgr").read().splitlines()
    ]
    for g, t in zip(got, truth):
        assert len(g) == len(t)
        for (gx, gy), (tx, ty) in zip(g, t):
            assert gx == pytest.approx(tx, rel=1e-12)
            assert gy == pytest.approx(ty, rel=1e-12)


def test_cgr_raises_on_bad_char():
    with pytest.raises(ValueError):
        kt.CgrComputer(1).vectorise_one("ACXGT")


def test_min():
    # reference tests/test_min.py:7-24
    gen = kt.MinimiserGenerator(BLOG, 31, 7)
    mins = ["ACGATAT", "ACGCCTA", "AGAGCTA", "AAATCCC", "AATCCCG", "AATCGAT", "AAAGCGC"]
    for (kmer, _, _), expect in zip(gen, mins):
        assert gen.to_acgt(kmer) == expect


def test_kmers():
    # reference tests/test_kmers.py:5-11
    gen = kt.KmerGenerator("ACGTCC", 3)
    for (fmer, _), acgt in zip(gen, ["ACG", "CGT", "GTC", "TCC"]):
        assert ktutils.to_acgt(fmer, 3) == acgt


def test_run_cli(spark, tmp_path):
    # pip/src/lib.rs:11-18: the full CLI through the python module.
    # With the reference corpus: its reads, byte-compared to its golden.
    # Without it: the same two reads as a synthetic FASTQ, compared to
    # OligoComputer's vectors.
    out = str(tmp_path / "cli.kmers")
    if os.path.isdir(REF):
        reads = f"{REF}/reads.fq"
    else:
        reads = str(tmp_path / "reads.fq")
        with open(reads, "w") as f:
            for i, r in enumerate((READ_1, READ_2), 1):
                f.write(f"@Read_{i}\n{r}\n+\n{'I' * len(r)}\n")
    rc = kt.run_cli(["comp", "oligo", "-i", reads, "-o", out, "-k", "4"])
    assert rc == 0
    if os.path.isdir(REF):
        assert open(out, "rb").read() == open(f"{REF}/expected_fa.kmers", "rb").read()
    else:
        got = [[float(x) for x in line.split()] for line in open(out).read().splitlines()]
        want = kt.OligoComputer(4).vectorise_batch([READ_1, READ_2])
        assert len(got) == 2
        for g, w in zip(got, want):
            assert g == pytest.approx(w, abs=5e-7)


def test_utils():
    # reference tests/test_utils.py:4-15
    assert ktutils.to_acgt(111, 5) == "ACGTT"
    assert ktutils.to_acgt(27, 5) == "AACGT"
    assert ktutils.to_numeric("ACGTT") == (111, 27)
    with pytest.raises(ValueError):
        ktutils.to_numeric("A" * 33)


def test_kmer_generator_lazy_single_pass():
    """code-review r5: generators mirror the PyO3 iterators — lazy
    (no up-front materialization) and single-pass (exhausted after one
    loop), unlike the old eager re-iterable list."""
    from kmertools_spark.pyapi import KmerGenerator, MinimiserGenerator

    g = KmerGenerator("ACGTACGT", 3)
    first = list(g)
    assert len(first) == 6
    assert list(g) == []  # single-pass
    # lazy: pulling one item must not require the whole sequence's
    # output to exist — iterate a generator over a large input briefly
    big = KmerGenerator("ACGT" * 100_000, 31)
    it = iter(big)
    assert next(it) is not None
    m = MinimiserGenerator("ACGTACGTACGT", 8, 4)
    runs = list(m)
    assert runs and list(m) == []
