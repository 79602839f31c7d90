"""pipe() operator tests (reference: GenomicDataset.pipe, piping suites
with cat/tee-style commands over SAM/BED streams)."""

import pytest

from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import GenomicMetadata, Reference, SequenceDictionary
from adam_spark.operators.pipe import pipe
from adam_spark import schemas


@pytest.fixture()
def aligned_gf(spark):
    rows = []
    for i in range(100):
        start = i * 100
        rows.append(
            ("chr1" if i % 2 == 0 else "chr2", start, start + 50, f"r{i}",
             "ACGT" * 10, "I" * 40, "40M", True, True, False, 60, False, 0,
             None, None, False, None)
        )
    schema = (
        "referenceName string, start long, end long, readName string, "
        "sequence string, qualityScores string, cigar string, readMapped boolean, "
        "primaryAlignment boolean, duplicateRead boolean, mappingQuality int, "
        "readNegativeStrand boolean, readInFragment int, readGroupId string, "
        "mismatchingPositions string, failedVendorQualityChecks boolean, "
        "originalQualityScores string"
    )
    df = schemas.conform(spark.createDataFrame(rows, schema), schemas.ALIGNMENT)
    meta = GenomicMetadata(
        references=SequenceDictionary(
            [Reference(name="chr1", length=10000), Reference(name="chr2", length=10000)]
        ),
        kind="alignment",
    )
    return GenomicFrame(df, meta)


def test_pipe_cat_identity(aligned_gf):
    """cat = identity: every record survives the SAM round-trip."""
    out = pipe(aligned_gf, "cat", in_format="sam", partitions=4)
    assert out.df.count() == 100
    got = {r["readName"]: r for r in out.df.collect()}
    assert got["r0"]["start"] == 0 and got["r0"]["end"] == 40
    assert got["r3"]["referenceName"] == "chr2"
    assert got["r3"]["sequence"] == "ACGT" * 10
    assert got["r3"]["mappingQuality"] == 60


def test_pipe_flank_dedup(aligned_gf):
    """With flank padding, boundary records are sent to both bins but
    appear once in the output."""
    out = pipe(aligned_gf, "cat", in_format="sam", partitions=8, flank=500)
    assert out.df.count() == 100
    assert out.df.select("readName").distinct().count() == 100


def test_pipe_grep_filter(aligned_gf):
    """A filtering command drops records."""
    out = pipe(aligned_gf, ["grep", "-v", "chr2"], in_format="sam", partitions=2)
    rows = out.df.collect()
    assert 0 < len(rows) == 50
    assert all(r["referenceName"] == "chr1" for r in rows)


def test_pipe_bed(spark):
    rows = [("chr1", 10, 20, "f1", 5.0, "FORWARD"), ("chr1", 30, 40, "f2", None, None)]
    df = schemas.conform(
        spark.createDataFrame(
            rows, "referenceName string, start long, end long, name string, score double, strand string"
        ),
        schemas.FEATURE,
    )
    gf = GenomicFrame(
        df,
        GenomicMetadata(
            references=SequenceDictionary([Reference(name="chr1", length=1000)]),
            kind="feature",
        ),
    )
    out = pipe(gf, "cat", in_format="bed", partitions=2)
    got = {r["name"]: r for r in out.df.collect()}
    assert len(got) == 2
    assert got["f1"]["start"] == 10 and got["f1"]["strand"] == "FORWARD"
    assert got["f2"]["score"] is None


def test_pipe_command_failure(aligned_gf):
    with pytest.raises(Exception):
        pipe(aligned_gf, ["false"], in_format="sam", partitions=2).df.count()


def test_pipe_fastq_roundtrip(aligned_gf):
    out = pipe(aligned_gf, "cat", in_format="fastq", out_format="fastq", partitions=2)
    rows = {r["name"]: r for r in out.df.collect()}
    assert len(rows) == 100
    assert rows["r7"]["sequence"] == "ACGT" * 10
    assert rows["r7"]["qualityScores"] == "I" * 40
    assert rows["r7"]["length"] == 40


def test_pipe_gff3_roundtrip(spark):
    rows = [("chr1", 100, 200, "f1", "exon", "src", 5.0, "FORWARD"),
            ("chr1", 300, 400, "f2", "gene", "src", None, "REVERSE")]
    df = spark.createDataFrame(
        rows,
        "referenceName string, start long, end long, featureId string, "
        "featureType string, source string, score double, strand string",
    )
    gf = GenomicFrame(
        schemas.conform(df, schemas.FEATURE),
        GenomicMetadata(
            references=SequenceDictionary([Reference(name="chr1", length=1000)]),
            kind="feature",
        ),
    )
    out = pipe(gf, "cat", in_format="gff3", partitions=2)
    got = {r["featureId"]: r for r in out.df.collect()}
    assert got["f1"]["start"] == 100 and got["f1"]["end"] == 200
    assert got["f1"]["score"] == 5.0 and got["f1"]["strand"] == "FORWARD"
    assert got["f2"]["featureType"] == "gene" and got["f2"]["strand"] == "REVERSE"


def test_pipe_vcf_roundtrip(spark):
    rows = [("chr1", 100, 101, "A", "T", 50.0), ("chr1", 500, 501, "G", "C", None)]
    df = spark.createDataFrame(
        rows,
        "referenceName string, start long, end long, referenceAllele string, "
        "alternateAllele string, quality double",
    )
    gf = GenomicFrame(
        schemas.conform(df, schemas.VARIANT),
        GenomicMetadata(
            references=SequenceDictionary([Reference(name="chr1", length=1000)]),
            kind="variant",
        ),
    )
    out = pipe(gf, "cat", in_format="vcf", partitions=2)
    got = {r["start"]: r for r in out.df.collect()}
    assert got[100]["referenceAllele"] == "A" and got[100]["alternateAllele"] == "T"
    assert got[100]["quality"] == 50.0
    assert got[500]["quality"] is None


def test_pipe_fasta_roundtrip(spark):
    rows = [("s1", "ACGT" * 40), ("s2", "TTTT")]
    df = spark.createDataFrame(rows, "name string, sequence string")
    gf = GenomicFrame(
        schemas.conform(df, schemas.SEQUENCE),
        GenomicMetadata(kind="sequence"),
    )
    out = pipe(gf, "cat", in_format="fasta", partitions=2)
    got = {r["name"]: r for r in out.df.collect()}
    assert got["s1"]["sequence"] == "ACGT" * 40  # 160 bp: crosses the 60-wrap
    assert got["s2"]["length"] == 4


def test_fragment_in_formatters(spark):
    """tab5/tab6/ifq line formats (Tab5InFormatter.scala:44-80 etc.),
    rendered by the SQL fragment formatters."""
    from adam_spark.operators.pipe import _fragment_lines

    frags = spark.createDataFrame(
        [
            ("f1/1", [("f1", 1, "TTTT", "JJJJ"), ("f1", 0, "ACGT", "IIII")]),
            ("u1", [(None, None, "GG", None)]),
        ],
        "name string, alignments array<struct<readName string, "
        "readInFragment int, sequence string, qualityScores string>>",
    )

    def render(fmt):
        out = _fragment_lines(fmt, frags, ("name",)).collect()
        return {r["name"]: r["value"] for r in out}

    tab5, tab6, ifq = render("tab5"), render("tab6"), render("ifq")
    assert tab5["f1/1"] == "f1\tACGT\tIIII\tTTTT\tJJJJ"
    assert tab6["f1/1"] == "f1/1\tACGT\tIIII\tf1/2\tTTTT\tJJJJ"
    assert ifq["f1/1"] == "@f1/1\nACGT\n+\nIIII\n@f1/2\nTTTT\n+\nJJJJ"
    assert tab5["u1"] == "u1\tGG\tBB"
    assert ifq["u1"] == "@u1\nGG\n+\nBB"


def test_pipe_tab5_to_bed(spark):
    """Fragments piped as tab5 into an awk 'aligner' that emits BED."""
    rows = [
        ("f1", [("ACGT", "IIII", 0), ("TTTT", "JJJJ", 1)]),
        ("f2", [("CCCC", "EEEE", 0)]),
    ]
    data = [
        (name, [{"sequence": s, "qualityScores": q, "readInFragment": i} for s, q, i in reads])
        for name, reads in rows
    ]
    df = spark.createDataFrame(
        data,
        "name string, alignments array<struct<sequence string, qualityScores string, readInFragment int>>",
    )
    gf = GenomicFrame(df, GenomicMetadata(kind="fragment"))
    out = pipe(
        gf,
        ["awk", "-F", "\t", '{print "chr1\t0\t" length($2) "\t" $1}'],
        in_format="tab5",
        out_format="bed",
        partitions=2,
    )
    got = {r["name"]: r for r in out.df.collect()}
    assert got["f1"]["end"] == 4 and got["f2"]["end"] == 4
    assert out.meta.kind == "feature"


def test_pipe_input_only_format_rejected(spark):
    df = spark.createDataFrame([("f1", [])], "name string, alignments array<struct<sequence string>>")
    gf = GenomicFrame(df, GenomicMetadata(kind="fragment"))
    with pytest.raises(ValueError, match="input-only"):
        pipe(gf, "cat", in_format="tab5")


def test_pipe_gtf_roundtrip(spark):
    rows = [("chr1", 100, 200, "g1", "t1", "exon", 5.0, "FORWARD")]
    df = spark.createDataFrame(
        rows,
        "referenceName string, start long, end long, geneId string, "
        "transcriptId string, featureType string, score double, strand string",
    )
    gf = GenomicFrame(
        schemas.conform(df, schemas.FEATURE),
        GenomicMetadata(
            references=SequenceDictionary([Reference(name="chr1", length=1000)]),
            kind="feature",
        ),
    )
    out = pipe(gf, "cat", in_format="gtf", partitions=2)
    r = out.df.collect()[0]
    assert r["geneId"] == "g1" and r["transcriptId"] == "t1"
    assert r["start"] == 100 and r["end"] == 200 and r["score"] == 5.0


def test_run_subprocess_timeout_kills():
    import time

    from adam_spark.operators.pipe import run_subprocess

    t0 = time.time()
    with pytest.raises(RuntimeError, match="timed out"):
        run_subprocess(["sleep", "30"], b"", None, timeout=1)
    assert time.time() - t0 < 10  # killed promptly, no 30s hang
    # the drop semantics answer an empty stdout instead
    assert run_subprocess(["sleep", "30"], b"", None, timeout=1, on_timeout="drop") == b""


def test_pipe_keeps_unmapped_reads(spark):
    """Coordinate-less records must reach the subprocess (explode on a
    null bin sequence silently dropped them)."""
    rows = [
        {"readName": "m1", "readMapped": True, "referenceName": "chr1",
         "start": 100, "end": 110, "cigar": "10M", "sequence": "ACGTACGTAC",
         "qualityScores": "IIIIIIIIII"},
        {"readName": "u1", "readMapped": False, "sequence": "TTTT",
         "qualityScores": "JJJJ"},
    ]
    df = schemas.conform(spark.createDataFrame(rows), schemas.ALIGNMENT)
    meta = GenomicMetadata(
        references=SequenceDictionary([Reference(name="chr1", length=10000)]),
        kind="alignment",
    )
    gf = pipe(GenomicFrame(df, meta), "cat", in_format="sam")
    names = {r["readName"] for r in gf.df.collect()}
    assert names == {"m1", "u1"}


#: stdlib-only BAM→SAM reader used as the piped tool: validates that the
#: bytes the BAM in-formatter feeds a subprocess are REAL BAM (BGZF
#: members + little-endian record layout per the SAM spec §4), parsed
#: here with zero reuse of adam_spark's own encoder/decoder.
_BAM_TO_SAM_TOOL = r'''
import struct, sys, zlib

data = sys.stdin.buffer.read()
# BGZF = concatenated gzip members
raw = bytearray()
off = 0
while off < len(data):
    d = zlib.decompressobj(wbits=31)
    raw += d.decompress(data[off:])
    off = len(data) - len(d.unused_data)
assert raw[:4] == b"BAM\x01", "not BAM magic"
l_text = struct.unpack_from("<i", raw, 4)[0]
p = 8 + l_text
n_ref = struct.unpack_from("<i", raw, p)[0]; p += 4
refs = []
for _ in range(n_ref):
    l_name = struct.unpack_from("<i", raw, p)[0]; p += 4
    refs.append(raw[p:p + l_name - 1].decode()); p += l_name + 4
CIG = "MIDNSHP=X"
SEQ = "=ACMGRSVTWYHKDBN"
while p < len(raw):
    rec_start = p
    block_size = struct.unpack_from("<i", raw, p)[0]; p += 4
    (ref_id, pos, l_rn, mapq, _bin, n_cig, flag, l_seq, next_ref, next_pos,
     tlen) = struct.unpack_from("<iiBBHHHiiii", raw, p)
    q = p + 32
    name = raw[q:q + l_rn - 1].decode(); q += l_rn
    cig = ""
    for _ in range(n_cig):
        v = struct.unpack_from("<I", raw, q)[0]; q += 4
        cig += str(v >> 4) + CIG[v & 0xF]
    seq = ""
    for i in range(l_seq):
        b = raw[q + i // 2]
        seq += SEQ[(b >> 4) if i % 2 == 0 else (b & 0xF)]
    q += (l_seq + 1) // 2
    qb = raw[q:q + l_seq]
    # spec: absent quality = 0xFF fill
    qual = "" if all(c == 0xFF for c in qb) else "".join(chr(c + 33) for c in qb)
    rname = refs[ref_id] if ref_id >= 0 else "*"
    rnext = "=" if (next_ref == ref_id and next_ref >= 0) else (
        refs[next_ref] if next_ref >= 0 else "*")
    print("\t".join([name or "*", str(flag), rname, str(pos + 1), str(mapq),
                     cig or "*", rnext, str(next_pos + 1), str(tlen),
                     seq or "*", qual or "*"]))
    p = rec_start + 4 + block_size
'''


def test_pipe_bam_in_formatter(aligned_gf, tmp_path):
    """in_format='bam' feeds the subprocess REAL binary BAM: a foreign
    stdlib-only reader converts it back to SAM, and the result equals
    the text-SAM pipe of the same records."""
    import sys

    tool = tmp_path / "bam2sam.py"
    tool.write_text(_BAM_TO_SAM_TOOL)
    via_bam = pipe(
        aligned_gf, [sys.executable, str(tool)], in_format="bam",
        out_format="sam", partitions=4,
    )
    via_sam = pipe(aligned_gf, "cat", in_format="sam", partitions=4)
    key = lambda r: (r["readName"],)  # noqa: E731
    got = sorted((tuple(r) for r in via_bam.df.collect()), key=repr)
    want = sorted((tuple(r) for r in via_sam.df.collect()), key=repr)
    assert got == want and len(got) == 100


#: stdlib-only SAM→BAM converter used as the piped tool for the
#: any_sam OUT-formatter test: emits a gzip'd BAM\x01 stream on stdout
#: (built with struct only — no reuse of adam_spark's encoder).
_SAM_TO_BAM_TOOL = r'''
import gzip, struct, sys

CIG = {c: i for i, c in enumerate("MIDNSHP=X")}
SEQ = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}
header, body = [], []
for ln in sys.stdin.read().splitlines():
    (header if ln.startswith("@") else body).append(ln)
refs = []
for ln in header:
    if ln.startswith("@SQ"):
        d = dict(f.split(":", 1) for f in ln.split("\t")[1:])
        refs.append((d["SN"], int(d.get("LN", 0))))
ridx = {n: i for i, (n, _l) in enumerate(refs)}
text = "\n".join(header) + "\n"
out = bytearray(b"BAM\x01" + struct.pack("<i", len(text)) + text.encode())
out += struct.pack("<i", len(refs))
for n, l in refs:
    nb = n.encode() + b"\x00"
    out += struct.pack("<i", len(nb)) + nb + struct.pack("<i", l)
for ln in body:
    f = ln.split("\t")
    name = (f[0] if f[0] != "*" else "").encode() + b"\x00"
    seq = "" if f[9] == "*" else f[9]
    cigs = []
    if f[5] != "*":
        num = ""
        for ch in f[5]:
            if ch.isdigit(): num += ch
            else: cigs.append((int(num) << 4) | CIG[ch]); num = ""
    rid = ridx.get(f[2], -1)
    nrid = rid if f[6] == "=" else ridx.get(f[6], -1)
    rec = struct.pack("<iiBBHHHiiii", rid, int(f[3]) - 1, len(name),
                      int(f[4]), 0, len(cigs), int(f[1]), len(seq),
                      nrid, int(f[7]) - 1, int(f[8]))
    rec += name
    for v in cigs:
        rec += struct.pack("<I", v)
    packed = bytearray((len(seq) + 1) // 2)
    for i, b in enumerate(seq):
        packed[i // 2] |= SEQ.get(b.upper(), 15) << (4 if i % 2 == 0 else 0)
    rec += bytes(packed)
    rec += (b"\xff" * len(seq)) if f[10] == "*" else bytes(
        ord(c) - 33 for c in f[10])
    out += struct.pack("<i", len(rec)) + rec
sys.stdout.buffer.write(gzip.compress(bytes(out)))
'''


def test_pipe_any_sam_out_formatter(aligned_gf, tmp_path):
    """out_format='any_sam' sniffs the subprocess stdout: a tool that
    answers in gzip'd binary BAM parses identically to one answering in
    text SAM (reference AnySAMOutFormatter)."""
    import sys

    tool = tmp_path / "sam2bam.py"
    tool.write_text(_SAM_TO_BAM_TOOL)
    via_bam_out = pipe(
        aligned_gf, [sys.executable, str(tool)], in_format="sam",
        out_format="any_sam", partitions=4,
    )
    via_text = pipe(aligned_gf, "cat", in_format="sam", out_format="any_sam",
                    partitions=4)
    got = sorted((tuple(r) for r in via_bam_out.df.collect()), key=repr)
    want = sorted((tuple(r) for r in via_text.df.collect()), key=repr)
    assert got == want and len(got) == 100


def test_pipe_files_shipped_to_executors(aligned_gf, tmp_path):
    """files= are distributed via sc.addFile and $N tokens resolve to
    the EXECUTOR-side SparkFiles copy, not the driver path — substituting
    the driver-local path breaks any cluster where executors don't share
    the driver's filesystem (reference GenomicDataset.scala:95-121)."""
    pats = tmp_path / "exclude.txt"
    pats.write_text("chr2\n")
    out = pipe(
        aligned_gf, ["grep", "-v", "-f", "$0"], in_format="sam",
        partitions=2, files=[str(pats)],
    )
    rows = out.df.collect()
    assert 0 < len(rows) == 50
    assert all(r["referenceName"] == "chr1" for r in rows)


def test_pipe_timeout_semantics(aligned_gf):
    """AlignmentDatasetSuite 'lose all records when a command times
    out' / 'lose no records without a timeout': on_timeout='drop'
    silently empties the timed-out bins (the reference's optTimeout
    behavior); the default raises instead."""
    import pytest as _pytest

    slow = ["sh", "-c", "sleep 5; cat"]
    out = pipe(aligned_gf, slow, in_format="sam", partitions=2,
               timeout=1, on_timeout="drop")
    assert out.df.count() == 0
    with _pytest.raises(Exception, match="timed out"):
        pipe(aligned_gf, slow, in_format="sam", partitions=2,
             timeout=1).df.count()
    # generous timeout: nothing lost
    ok = pipe(aligned_gf, "cat", in_format="sam", partitions=2, timeout=60)
    assert ok.df.count() == 100


def test_pipe_gff3_full_attribute_round_trip(spark):
    """Piped GFF3/GTF carry the full gatherAttributes surface
    (FeatureDatasetSuite 'don't lose any features when piping as
    GFF3/GTF format' :920-945, widened to typed fields): cat-identity
    pipe preserves every typed attribute column and the residual map."""
    from adam_spark import schemas
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.core.metadata import GenomicMetadata
    from adam_spark.operators.pipe import pipe

    rows = [
        {
            "referenceName": "1", "start": 100, "end": 200,
            "featureType": "exon", "featureId": "e1", "name": "exon1",
            "exonId": "ENSE1", "parentIds": ["tx1,tx2"],
            "aliases": ["a1", "a2"], "dbxrefs": ["EMBL:X1"],
            "ontologyTerms": ["SO:0000147"], "circular": False,
            "target": "EST1 1 100", "gap": "M100", "derivesFrom": "tx9",
            "sampleId": "s1", "attributes": {"custom": "x=y"},
        }
    ]
    gf = GenomicFrame(
        schemas.conform(spark.createDataFrame(rows), schemas.FEATURE),
        GenomicMetadata(kind="feature"),
    )
    for fmt in ("gff3", "gtf"):
        out = pipe(gf, ["cat"], in_format=fmt, out_format=fmt)
        r = out.df.collect()[0]
        assert r["featureId"] == "e1" and r["name"] == "exon1"
        assert r["exonId"] == "ENSE1"
        assert r["parentIds"] == ["tx1,tx2"]
        assert r["aliases"] == ["a1", "a2"]
        assert r["dbxrefs"] == ["EMBL:X1"]
        assert r["ontologyTerms"] == ["SO:0000147"]
        assert (r["target"], r["gap"], r["derivesFrom"]) == ("EST1 1 100", "M100", "tx9")
        assert r["circular"] is False and r["sampleId"] == "s1"
        assert dict(r["attributes"]) == {"custom": "x=y"}, fmt


def _canonical(df) -> list[str]:
    """A frame's rows as a sorted list of canonical JSON strings (maps
    and nested structs compared by value)."""
    import json

    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )


def _bed_frame(spark) -> GenomicFrame:
    blocks = {
        "thickStart": "110", "thickEnd": "190", "itemRgb": "255,0,0",
        "blockCount": "2", "blockSizes": "30,40", "blockStarts": "0,60",
    }
    rows = [
        # BED6 rows (one with a null score and strand)
        {"referenceName": "chr1", "start": 10, "end": 20, "name": "f1",
         "score": 5.0, "strand": "FORWARD"},
        {"referenceName": "chr2", "start": 30, "end": 40, "name": "f2"},
        # BED12 rows
        {"referenceName": "chr1", "start": 100, "end": 200, "name": "t1",
         "score": 900.0, "strand": "REVERSE", "attributes": blocks},
        {"referenceName": "chrM", "start": 500, "end": 700, "name": "t2",
         "score": 0.0, "strand": "FORWARD", "attributes": blocks},
    ]
    return _feature_frame(spark, rows)


def _feature_frame(spark, rows) -> GenomicFrame:
    from tests.genomic_fixtures import make_metadata

    df = schemas.conform(spark.createDataFrame(rows, schemas.FEATURE), schemas.FEATURE)
    return GenomicFrame(df, make_metadata("feature"))


def _narrowpeak_frame(spark) -> GenomicFrame:
    rows = [
        {"referenceName": "chr1", "start": 1000 * i, "end": 1000 * i + 250,
         "name": f"peak{i}", "score": float(100 + i), "strand": "INDEPENDENT",
         "attributes": {"signalValue": f"{i}.5", "pValue": "12.3",
                        "qValue": "4.56", "peak": str(100 + i)}}
        for i in range(6)
    ]
    return _feature_frame(spark, rows)


def _variant_frame(spark) -> GenomicFrame:
    from tests.genomic_fixtures import make_metadata

    rows = [
        {"referenceName": "chr1", "start": 100, "end": 101, "names": ["rs1"],
         "referenceAllele": "A", "alternateAllele": "T", "quality": 50.0,
         "filtersApplied": True, "filtersPassed": True},
        {"referenceName": "chr1", "start": 5000, "end": 5002,
         "referenceAllele": "GC", "alternateAllele": "G", "quality": 12.5,
         "filtersApplied": True, "filtersPassed": False,
         "filtersFailed": ["LowQual", "q10"]},
        {"referenceName": "chr2", "start": 700, "end": 701,
         "referenceAllele": "C", "alternateAllele": "A",
         "filtersApplied": False},
    ]
    df = schemas.conform(spark.createDataFrame(rows, schemas.VARIANT), schemas.VARIANT)
    meta = make_metadata("variant")
    meta.samples = []
    return GenomicFrame(df, meta)


def _sequence_frame(spark) -> GenomicFrame:
    rows = [("s1", "first sequence", "ACGT" * 40), ("s2", None, "TTTT"),
            ("s3", None, "GATTACA" * 20)]
    df = spark.createDataFrame(rows, "name string, description string, sequence string")
    return GenomicFrame(
        schemas.conform(df, schemas.SEQUENCE), GenomicMetadata(kind="sequence")
    )


def _file_round_trip(spark, gf, fmt, path):
    from adam_spark.operators.conversions import variants_to_variant_contexts
    from adam_spark.sources import fasta, fastq, features_io, sam, vcf

    if fmt == "sam":
        sam.save_sam(gf, path)
        return sam.load_sam(spark, path).df
    if fmt == "vcf":
        contexts = GenomicFrame(variants_to_variant_contexts(gf.df), gf.meta)
        vcf.save_vcf(contexts, path)
        return vcf.load_vcf_variants(spark, path).df
    if fmt == "fastq":
        fastq.save_fastq(gf, path)
        return schemas.conform(fastq.load_unpaired_fastq(spark, path).df, schemas.READ)
    if fmt == "fasta":
        fasta.save_fasta(gf, path)
        return fasta.load_fasta_sequences(spark, path).df
    getattr(features_io, f"save_{fmt}")(gf, path)
    return getattr(features_io, f"load_{fmt}")(spark, path).df


@pytest.mark.parametrize(
    "fmt", ["sam", "bed", "narrowpeak", "gff3", "gtf", "vcf", "fastq", "fasta"]
)
def test_pipe_cat_matches_file_round_trip(spark, fixtures, tmp_path, fmt):
    """One codec per format: piping through `cat` returns exactly the
    rows a save_<fmt> → load_<fmt> file round trip returns (SAM tags
    and mate fields, BED12 blocks, narrowPeak signal columns, VCF
    failed-filter names, GFF3/GTF attributes, FASTQ strand flips)."""
    gf = {
        "sam": fixtures.alignments,
        "fastq": fixtures.alignments,
        "gff3": fixtures.features,
        "gtf": fixtures.features,
        "bed": lambda: _bed_frame(spark),
        "narrowpeak": lambda: _narrowpeak_frame(spark),
        "vcf": lambda: _variant_frame(spark),
        "fasta": lambda: _sequence_frame(spark),
    }[fmt]()
    piped = pipe(gf, "cat", in_format=fmt, partitions=4).df
    want = _file_round_trip(spark, gf, fmt, str(tmp_path / f"rt.{fmt}"))
    assert piped.schema.simpleString() == want.schema.simpleString()
    got, want = _canonical(piped), _canonical(want)
    assert len(got) == gf.df.count()
    assert got == want


def test_pipe_sam_flank_keeps_every_field(fixtures):
    """Reads carrying RG, MD, OQ, SAM tags and mate fields, piped with
    flank=500 over 8 bins: every read comes back once, with every field
    the SAM file codec carries."""
    from pyspark.sql import functions as F

    src = fixtures.alignments()
    gf = GenomicFrame(
        src.df.withColumn("originalQualityScores", F.reverse("qualityScores")),
        src.meta,
    )
    out = pipe(gf, "cat", in_format="sam", partitions=8, flank=500).df
    fields = [
        "readName", "readInFragment", "referenceName", "start", "end",
        "cigar", "sequence", "qualityScores", "readGroupId",
        "readGroupSampleId", "mismatchingPositions", "originalQualityScores",
        "mateReferenceName", "mateAlignmentStart", "insertSize",
        "readNegativeStrand", "mateNegativeStrand", "duplicateRead",
        "failedVendorQualityChecks",
    ]
    assert out.count() == gf.df.count() == 1000
    assert out.select("readName", "readInFragment").distinct().count() == 1000
    assert _canonical(out.select(*fields)) == _canonical(gf.df.select(*fields))
    tags = {
        (r["readName"], r["readInFragment"]): dict(r["attributes"] or {})
        for r in out.collect()
    }
    want = {
        (r["readName"], r["readInFragment"]): dict(r["attributes"] or {})
        for r in gf.df.collect()
    }
    assert {k: v.get("XS") for k, v in tags.items()} == {
        k: v.get("XS") for k, v in want.items()
    }
