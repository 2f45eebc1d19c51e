"""FASTA/FASTQ source + delimited sink vs the reference golden corpus:
the full comp-oligo pipeline reproduced byte-identically."""

import os

import pytest
from pyspark.sql import functions as F

from kmertools_spark.functions import composition_vector
from kmertools_spark.sources.fastx import (
    infer_format,
    read_fastx,
    seq_stats,
    write_vectors_text,
)

REF = "/root/reference/test_data"
needs_ref = pytest.mark.skipif(not os.path.isdir(REF), reason="reference corpus absent")


def test_infer_format():
    # ktio/src/seq.rs:30-42 incl. .gz strip
    assert infer_format("x.fq") == "fastq"
    assert infer_format("x.fastq.gz") == "fastq"
    assert infer_format("x.fa") == "fasta"
    assert infer_format("x.fasta.gz") == "fasta"
    with pytest.raises(ValueError):
        infer_format("x.txt")


@needs_ref
def test_read_fastq_fasta_gz_agree(spark):
    # ktio/src/seq.rs:157-234: same records across formats
    fq = read_fastx(spark, f"{REF}/reads.fq").collect()
    fa = read_fastx(spark, f"{REF}/reads.fa").collect()
    gz = read_fastx(spark, f"{REF}/reads.fq.gz").collect()
    assert len(fq) == 2
    assert [r.seq for r in fq] == [r.seq for r in fa] == [r.seq for r in gz]
    assert [r.id for r in fq] == ["Read_1", "Read_2"]


@needs_ref
def test_seq_stats(spark):
    df = read_fastx(spark, f"{REF}/reads.fq")
    assert seq_stats(df) == (2, 144)


@needs_ref
def test_comp_oligo_pipeline_byte_identical(spark, tmp_path):
    """End-to-end `kmertools comp oligo` parity: FASTQ in, 6-dp delimited
    vectors out, byte-equal to expected_fa.kmers (the reference's own
    mmap determinism golden, composition/src/oligo.rs:311-342)."""
    df = read_fastx(spark, f"{REF}/reads.fq")
    out = df.withColumn("vec", composition_vector(4)(F.col("seq")))
    path = str(tmp_path / "computed.kmers")
    write_vectors_text(out, path, vec_col="vec", order_col="n")
    assert open(path, "rb").read() == open(f"{REF}/expected_fa.kmers", "rb").read()


@needs_ref
def test_comp_oligo_unnorm_golden(spark, tmp_path):
    # expected_fa_batch_unnorm.kmers (composition/src/oligo.rs:370-387)
    df = read_fastx(spark, f"{REF}/reads.fq")
    out = df.withColumn(
        "vec", composition_vector(4, norm=False)(F.col("seq"))
    )
    path = str(tmp_path / "computed_unnorm.kmers")
    write_vectors_text(out, path, vec_col="vec", order_col="n", norm=False)
    assert (
        open(path, "rb").read()
        == open(f"{REF}/expected_fa_batch_unnorm.kmers", "rb").read()
    )


def test_read_fastx_stdin(spark, monkeypatch):
    """'-' reads stdin; format sniffed from the first byte ('>' = fasta)
    like the reference batch path (composition/src/oligo.rs:96-106)."""
    import io as _io

    from kmertools_spark.sources.fastx import read_fastx

    fq_text = (
        "@Read_1\nGGGTGATGGCCGCTGCCGATGGCGTC\n+\nIIIIIIIIIIIIIIIIIIIIIIIIII\n"
        "@Read_2\nGTTCAGGGATACGACG\n+\nIIIIIIIIIIIIIIII\n"
    )
    monkeypatch.setattr("sys.stdin", _io.StringIO(fq_text))
    rows = read_fastx(spark, "-").orderBy("n").collect()
    assert [r.id for r in rows] == ["Read_1", "Read_2"]
    assert rows[0].seq.startswith("GGGTGATGGCCGCTGCC")

    fa_text = ">Record_1\nACGTACGTACGT\n"
    monkeypatch.setattr("sys.stdin", _io.StringIO(fa_text))
    rows = read_fastx(spark, "-").collect()
    assert rows == [(0, "Record_1", "ACGTACGTACGT")] or (
        rows[0].id == "Record_1" and rows[0].seq == "ACGTACGTACGT"
    )


def test_distributed_reader_matches_driver_side(spark, tmp_path):
    """read_fastx_distributed == read_fastx on multi-line FASTA and
    FASTQ under forced multi-partition text splits (records crossing
    partition boundaries, headerless partitions, dangling tails)."""
    import numpy as np

    from kmertools_spark.sources.fastx import read_fastx, read_fastx_distributed

    rng = np.random.RandomState(7)
    fa = tmp_path / "big.fa"
    with open(fa, "w") as f:
        for i in range(200):
            f.write(f">rec_{i} extra descr\n")
            for _ in range(int(rng.randint(1, 6))):
                f.write("".join(rng.choice(list("ACGT"), 60)) + "\n")
    fq = tmp_path / "big.fq"
    with open(fq, "w") as f:
        for i in range(300):
            seq = "".join(rng.choice(list("ACGT"), 72))
            f.write(f"@read_{i} meta\n{seq}\n+\n{'I' * 72}\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        for path in (str(fa), str(fq)):
            want = sorted(tuple(r) for r in read_fastx(spark, path).collect())
            got_df = read_fastx_distributed(spark, path)
            assert got_df.rdd.getNumPartitions() >= 1
            got = sorted(tuple(r) for r in got_df.collect())
            assert got == want, path
        # many partitions actually exercised
        n_parts = spark.read.text(str(fa)).rdd.getNumPartitions()
        assert n_parts > 4, n_parts
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@needs_ref
def test_distributed_reader_reference_corpus(spark):
    from kmertools_spark.sources.fastx import read_fastx, read_fastx_distributed

    for p in (f"{REF}/reads.fa", f"{REF}/reads.fq"):
        want = sorted(tuple(r) for r in read_fastx(spark, p).collect())
        got = sorted(tuple(r) for r in read_fastx_distributed(spark, p).collect())
        assert got == want, p


def test_distributed_reader_multifile_directory(spark, tmp_path):
    """Multi-file inputs must keep per-file offset order (the DataFrame
    text source's size-sorted split packing scrambled it — review
    finding); records crossing split boundaries within each file must
    still assemble correctly."""
    import numpy as np

    from kmertools_spark.sources.fastx import read_fastx, read_fastx_distributed

    rng = np.random.RandomState(13)
    d = tmp_path / "many"
    d.mkdir()
    # deliberately unequal file sizes so size-sorted packing would differ
    for fi, n_rec in enumerate([50, 5, 120]):
        with open(d / f"part{fi}.fa", "w") as f:
            for i in range(n_rec):
                f.write(f">f{fi}_r{i}\n")
                for _ in range(int(rng.randint(1, 5))):
                    f.write("".join(rng.choice(list("ACGT"), 60)) + "\n")
    got = read_fastx_distributed(spark, str(d / "*.fa"), min_partitions=16)
    gotrows = {r.id: r.seq for r in got.collect()}
    # reference: driver-side read of each file
    want = {}
    for fi in range(3):
        for r in read_fastx(spark, str(d / f"part{fi}.fa")).collect():
            want[r.id] = r.seq
    assert gotrows == want
    # ordinals unique and dense
    ns = sorted(r.n for r in got.collect())
    assert ns == list(range(len(want)))


def test_distributed_fastq_truncated_trailing_record(spark, tmp_path):
    from kmertools_spark.sources.fastx import read_fastx, read_fastx_distributed

    p = tmp_path / "trunc.fq"
    p.write_text("@r0 x\nACGT\n+\nIIII\n@r1 y\n")  # header only, no seq
    want = sorted(tuple(r) for r in read_fastx(spark, str(p)).collect())
    got = sorted(tuple(r) for r in read_fastx_distributed(spark, str(p)).collect())
    assert got == want == [(0, "r0", "ACGT"), (1, "r1", "")]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except Exception:  # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:

    @settings(max_examples=15, deadline=None)
    @given(
        n_recs=st.integers(min_value=0, max_value=40),
        line_lens=st.integers(min_value=1, max_value=4),
        parts=st.integers(min_value=1, max_value=24),
        seed=st.integers(min_value=0, max_value=10**6),
    )
    def test_property_distributed_fasta(spark, n_recs, line_lens, parts, seed):
        """Random FASTA corpora under random split counts: the
        distributed reader must equal the driver-side reader exactly
        (session-scoped spark fixture is safe under hypothesis)."""
        import tempfile

        import numpy as np

        from kmertools_spark.sources.fastx import read_fastx, read_fastx_distributed

        rng = np.random.RandomState(seed)
        tf = tempfile.NamedTemporaryFile("w", suffix=".fa", delete=False)
        p = tf.name
        with tf as f:
            for i in range(n_recs):
                f.write(f">r{i} d\n")
                for _ in range(int(rng.randint(1, line_lens + 1))):
                    f.write("".join(rng.choice(list("ACGT"), int(rng.randint(1, 40)))) + "\n")
        want = sorted(tuple(r) for r in read_fastx(spark, str(p)).collect())
        got = sorted(
            tuple(r)
            for r in read_fastx_distributed(spark, str(p), min_partitions=parts).collect()
        )
        assert got == want


def test_parse_bytes_full_spark_syntax():
    from kmertools_spark.sources.fastx import _parse_bytes

    assert _parse_bytes("1024") == 1024
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("64kb") == 64 << 10
    assert _parse_bytes("2g") == 2 << 30
    assert _parse_bytes("1tb") == 1 << 40
    assert _parse_bytes("1.5k") == 1536
