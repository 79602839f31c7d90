"""flagstat, k-mers, sorts, filters, conversions, duplicate marking."""

from collections import Counter

from pyspark.sql import functions as F

from adam_spark.operators import filters
from adam_spark.operators.conversions import (
    alignments_to_fragments,
    fragments_to_alignments,
)
from adam_spark.operators.flagstat import flagstat
from adam_spark.operators.kmers import count_kmers
from adam_spark.operators.mark_duplicates import mark_duplicates
from adam_spark.operators.sorts import sort, sort_by_reference_position
from tests.genomic_fixtures import make_sequence_dictionary


def test_flagstat_counts(fixtures):
    aln = fixtures.alignments().df
    rows = {r["qcFailed"]: r for r in flagstat(aln).collect()}
    raw = aln.collect()
    for qc in [False, True]:
        sub = [r for r in raw if bool(r["failedVendorQualityChecks"]) == qc]
        got = rows[qc]
        assert got["total"] == len(sub)
        assert got["mapped"] == sum(1 for r in sub if r["readMapped"])
        assert got["paired"] == sum(1 for r in sub if r["readPaired"])
        assert got["read1"] == sum(1 for r in sub if r["readPaired"] and r["readInFragment"] == 0)
        assert got["properlyPaired"] == sum(1 for r in sub if r["properPair"])
        assert got["singleton"] == sum(
            1 for r in sub if r["readMapped"] and not r["mateMapped"] and r["readPaired"]
        )
        # DuplicateMetrics split (reference FlagStat.scala:29-51,
        # FlagStatSuite primary/secondary + bothMapped/onlyReadMapped/
        # crossChromosome assertions)
        prim = [r for r in sub if r["duplicateRead"] and r["primaryAlignment"]]
        sec = [r for r in sub if r["duplicateRead"] and r["primaryAlignment"] is False]
        assert got["duplicatesPrimary"] == len(prim)
        assert got["duplicatesSecondary"] == len(sec)
        assert got["duplicatesPrimaryBothMapped"] == sum(
            1 for r in prim if r["readMapped"] and r["mateMapped"]
        )
        assert got["duplicatesPrimaryOnlyReadMapped"] == sum(
            1 for r in prim if r["readMapped"] and not r["mateMapped"]
        )
        assert got["duplicatesPrimaryCrossChromosome"] == sum(
            1 for r in prim if r["referenceName"] != r["mateReferenceName"]
        )


def _flagstat_reference(rows):
    """All 22 counters in plain Python, with SQL's three-valued logic: a
    conjunction counts only when every term is TRUE (NULL never counts),
    and the contig comparison is null-safe (NULL vs NULL is "same")."""

    def t(*xs):
        return all(x is True for x in xs)

    out = {}
    for qc in (False, True):
        sub = [r for r in rows if (r["failedVendorQualityChecks"] is True) == qc]
        c = Counter()
        for r in sub:
            dup = t(r["duplicateRead"])
            prim = dup and t(r["primaryAlignment"])
            sec = dup and r["primaryAlignment"] is False
            cross = r["referenceName"] != r["mateReferenceName"]
            mapped, mate = t(r["readMapped"]), t(r["mateMapped"])
            diff = mapped and mate and cross
            q5 = r["mappingQuality"] is not None and r["mappingQuality"] >= 5
            for name, hit in (
                ("total", True),
                ("duplicates", dup),
                ("duplicatesPrimary", prim),
                ("duplicatesPrimaryBothMapped", prim and mapped and mate),
                ("duplicatesPrimaryOnlyReadMapped", prim and mapped and not mate),
                ("duplicatesPrimaryCrossChromosome", prim and cross),
                ("duplicatesSecondary", sec),
                ("duplicatesSecondaryBothMapped", sec and mapped and mate),
                ("duplicatesSecondaryOnlyReadMapped", sec and mapped and not mate),
                ("duplicatesSecondaryCrossChromosome", sec and cross),
                ("mapped", mapped),
                ("paired", t(r["readPaired"])),
                ("read1", t(r["readPaired"]) and r["readInFragment"] == 0),
                ("read2", t(r["readPaired"]) and r["readInFragment"] == 1),
                ("properlyPaired", t(r["properPair"])),
                ("withSelfAndMateMapped", mapped and mate),
                ("singleton", mapped and not mate and t(r["readPaired"])),
                ("withMateMappedToDiffChromosome", diff),
                ("withMateMappedToDiffChromosomeMapQ5", diff and q5),
                ("primaryMapped", t(r["primaryAlignment"]) and mapped),
                ("secondaryAlignments", t(r["secondaryAlignment"])),
                ("supplementaryAlignments", t(r["supplementaryAlignment"])),
            ):
                c[name] += bool(hit)
        out[qc] = c
    return out


def test_flagstat_null_semantics(spark):
    """NULL flags and contigs: every counter matches the three-valued
    reference (a NULL flag never counts as set, a NULL QC flag lands in
    the pass bucket, NULL vs NULL contigs are not a cross-chromosome
    pair)."""
    import itertools
    import random

    flags = (
        "readMapped", "readPaired", "properPair", "mateMapped",
        "failedVendorQualityChecks", "duplicateRead", "primaryAlignment",
        "secondaryAlignment", "supplementaryAlignment",
    )
    schema = (
        ", ".join(f"{f} boolean" for f in flags)
        + ", readInFragment int, mappingQuality int,"
        " referenceName string, mateReferenceName string"
    )
    rng = random.Random(7)
    tri = (True, False, None)
    rows = []
    # every NULL/TRUE/FALSE combination of the flags the counters nest,
    # then random rows for everything else
    for dup, prim, mate, qc in itertools.product(tri, repeat=4):
        for _ in range(3):
            r = {f: rng.choice(tri) for f in flags}
            r.update(duplicateRead=dup, primaryAlignment=prim, mateMapped=mate,
                     failedVendorQualityChecks=qc)
            r["readInFragment"] = rng.choice((0, 1, None))
            r["mappingQuality"] = rng.choice((0, 4, 5, 60, None))
            r["referenceName"] = rng.choice(("c1", "c2", None))
            r["mateReferenceName"] = rng.choice(("c1", "c2", None))
            rows.append(r)
    cols = [*flags, "readInFragment", "mappingQuality", "referenceName", "mateReferenceName"]
    df = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], schema)
    got = {r["qcFailed"]: r.asDict() for r in flagstat(df).collect()}
    want = _flagstat_reference(rows)
    assert set(got) == {False, True}
    for qc in (False, True):
        assert len(got[qc]) == 23  # qcFailed + 22 counters
        for name, n in got[qc].items():
            if name != "qcFailed":
                assert n == want[qc][name], (qc, name, n, want[qc][name])


def test_count_kmers_vs_oracle(fixtures, spark):
    aln = fixtures.alignments().df.limit(50)
    k = 4
    got = {r["kmer"]: r["count"] for r in count_kmers(aln, k).collect()}
    want = Counter()
    for r in aln.collect():
        s = r["sequence"]
        if 0 < len(s) < k:
            # Scala sliding(k): one partial window for short strings
            want[s] += 1
        for i in range(len(s) - k + 1):
            want[s[i : i + k]] += 1
    assert got == dict(want)


def test_sort_unmapped_dropped(fixtures):
    aln = fixtures.alignments()
    out = sort(aln.df, make_sequence_dictionary()).collect()
    assert all(r["referenceName"] is not None for r in out)
    # chr1 < chr2 < chrM by index; within contig ascending start
    seen = [(r["referenceName"], r["start"]) for r in out]
    order = {"chr1": 0, "chr2": 1, "chrM": 2}
    assert seen == sorted(seen, key=lambda t: (order[t[0]], t[1]))


def test_sort_by_reference_position_unmapped_last(fixtures):
    aln = fixtures.alignments()
    out = sort_by_reference_position(aln.df).collect()
    mapped_flags = [bool(r["readMapped"]) for r in out]
    # once we see an unmapped read, no mapped reads follow
    if False in mapped_flags:
        first_unmapped = mapped_flags.index(False)
        assert all(not m for m in mapped_flags[first_unmapped:])


def test_filters(fixtures):
    aln = fixtures.alignments().df
    assert filters.filter_by_mapping_quality(aln, 30).where(
        F.col("mappingQuality") < 30
    ).count() == 0
    assert filters.filter_unaligned_reads(aln).count() == aln.where("readMapped").count()
    assert (
        filters.filter_to_read_groups(aln, ["rg1"]).count()
        == aln.where("readGroupId = 'rg1'").count()
    )
    # view filter: -f 0x1 (paired) ∩ -F 0x4 (mapped)
    v = filters.view_filter(aln, match_all_bits=0x1, mismatch_all_bits=0x4)
    assert v.count() == aln.where("readPaired AND readMapped").count()


def test_fragment_roundtrip(fixtures):
    aln = fixtures.alignments().df
    frags = alignments_to_fragments(aln)
    assert frags.count() == aln.select("readName").distinct().count()
    back = fragments_to_alignments(frags)
    assert back.count() == aln.count()
    a = sorted((r["readName"], r["readInFragment"], r["start"]) for r in aln.collect())
    b = sorted((r["readName"], r["readInFragment"], r["start"]) for r in back.collect())
    assert a == b
    # nested alignments are ordered by readInFragment
    for r in frags.limit(20).collect():
        rifs = [a["readInFragment"] for a in r["alignments"]]
        assert rifs == sorted(rifs)


def test_mark_duplicates(fixtures):
    aln = fixtures.alignments().df
    marked = mark_duplicates(aln, {"rg1": "lib1", "rg2": None})
    assert marked.count() == aln.count()
    rows = marked.collect()
    # fixture forces groups of 3 pairs sharing a 5' start (k % 50 < 6 →
    # same start0 per pair-of-pairs); at least one duplicate must exist
    dup_names = {r["readName"] for r in rows if r["duplicateRead"]}
    assert len(dup_names) > 0
    # duplicates are marked per-fragment: both reads of a pair agree
    by_name = {}
    for r in rows:
        by_name.setdefault(r["readName"], set()).add(bool(r["duplicateRead"]))
    for name, flags in by_name.items():
        assert len(flags) == 1, f"fragment {name} has mixed duplicate flags"
    # unmapped fragments never marked
    for r in rows:
        if not r["readMapped"] and not r["readPaired"]:
            assert not r["duplicateRead"]
    # within each competing group, exactly the best-scoring fragment survives:
    # verify no group is fully marked
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        if r["readMapped"] and r["readInFragment"] == 0:
            groups[(r["referenceName"], r["start"])].add((r["readName"], r["duplicateRead"]))
    for g, members in groups.items():
        if len(members) > 1 and any(d for _, d in members):
            assert any(not d for _, d in members), f"group {g} fully marked"


def test_mark_duplicates_single_end_vs_pairs(spark):
    """Picard/reference parity (MarkDuplicates.scala:140-155): when a
    complete pair shares the left 5' site, EVERY single-end fragment
    there is a duplicate (no survivor); single-end-only sites keep
    their best."""
    from adam_spark import schemas

    def read(name, rif, start, neg=False, paired=False, mapped=True, q="I"):
        end = start + 50
        return (
            name, rif, "chr1" if mapped else None,
            start if mapped else None, end if mapped else None, "50M" if mapped else None,
            neg, q * 50, "A" * 50, mapped, True, False, False, paired,
        )

    rows = [
        # complete pair p1: read1 fwd 5'=100, read2 rev 5'=400
        read("p1", 0, 100, paired=True),
        read("p1", 1, 350, neg=True, paired=True),
        # second complete pair p2 at the same coordinates, lower quality
        read("p2", 0, 100, paired=True, q="B"),
        read("p2", 1, 350, neg=True, paired=True, q="B"),
        # single-end fragments s1/s2 share left 5'=100 with the pairs:
        # ALL must be duplicates (pairs exist at the site)
        read("s1", 0, 100),
        read("s2", 0, 100, q="B"),
        # single-end-only site at 900: best survives, worse is dup
        read("t1", 0, 900),
        read("t2", 0, 900, q="B"),
        # lone single-end at 2000: never a duplicate
        read("u1", 0, 2000),
    ]
    sch = (
        "readName string, readInFragment int, referenceName string, start long, "
        "end long, cigar string, readNegativeStrand boolean, qualityScores string, "
        "sequence string, readMapped boolean, primaryAlignment boolean, "
        "secondaryAlignment boolean, supplementaryAlignment boolean, readPaired boolean"
    )
    aln = schemas.conform(spark.createDataFrame(rows, sch), schemas.ALIGNMENT)
    got = {
        (r["readName"], r["readInFragment"]): r["duplicateRead"]
        for r in mark_duplicates(aln).collect()
    }
    assert got[("p1", 0)] is False and got[("p1", 1)] is False  # best pair survives
    assert got[("p2", 0)] is True and got[("p2", 1)] is True
    assert got[("s1", 0)] is True and got[("s2", 0)] is True  # pairs at site → all frags dup
    assert got[("t1", 0)] is False and got[("t2", 0)] is True  # fragment-only site scores
    assert got[("u1", 0)] is False


def test_mark_duplicate_fragments(spark):
    from adam_spark import schemas
    from adam_spark.operators.conversions import alignments_to_fragments
    from adam_spark.operators.mark_duplicates import mark_duplicate_fragments

    rows = []
    for name, start, q in [("a", 100, "I"), ("b", 100, "B"), ("c", 500, "I")]:
        rows.append(
            (name, "chr1", start, start + 50, "50M", False, q * 50, True, True,
             False, False, False, 0)
        )
    sch = (
        "readName string, referenceName string, start long, end long, cigar string, "
        "readNegativeStrand boolean, qualityScores string, readMapped boolean, "
        "primaryAlignment boolean, secondaryAlignment boolean, supplementaryAlignment boolean, "
        "readPaired boolean, readInFragment int"
    )
    aln = schemas.conform(spark.createDataFrame(rows, sch), schemas.ALIGNMENT)
    out = mark_duplicate_fragments(alignments_to_fragments(aln))
    got = {r["name"]: [a["duplicateRead"] for a in r["alignments"]] for r in out.collect()}
    # a and b share the 5' site; a has the higher quality sum, b is the dup
    assert got == {"a": [False], "b": [True], "c": [False]}


def test_repartition_by_genome(spark):
    from adam_spark import Reference, SequenceDictionary
    from adam_spark.operators.sorts import repartition_by_genome

    refs = SequenceDictionary(
        [Reference(name="chr1", length=1000), Reference(name="chr2", length=1000)]
    )
    rows = [("chr2", 500), ("chr1", 10), (None, None), ("chr1", 900), ("chr2", 1)]
    df = spark.createDataFrame(rows, "referenceName string, start long")
    out = repartition_by_genome(df, refs, partitions=2)
    parts = out.rdd.glom().collect()
    flat = [(r["referenceName"], r["start"]) for p in parts for r in p]
    # globally genome-ordered across partitions, unmapped last
    assert flat == [
        ("chr1", 10), ("chr1", 900), ("chr2", 1), ("chr2", 500), (None, None),
    ]


def test_sort_features_by_reference_gene_model_tiebreaks(spark):
    """FeatureOrdering parity (FeatureDataset.scala:70-106): same
    region → featureId/type/gene fields break ties; exon_number is
    compared NUMERICALLY (2 before 10); nulls last."""
    from adam_spark.operators.sorts import sort_features_by_reference

    rows = [
        # same region, exon_number 10 vs 2 (string sort would invert)
        ("chr1", 100, 200, "+", "f1", "exon", "g1", "t1", {"exon_number": "10"}),
        ("chr1", 100, 200, "+", "f1", "exon", "g1", "t1", {"exon_number": "2"}),
        # null featureId sorts after non-null
        ("chr1", 100, 200, "+", None, "exon", "g1", "t1", {}),
        # earlier start wins regardless of other fields
        ("chr1", 50, 500, "+", "zzz", "gene", "g9", None, {}),
        ("chr1", 100, 200, "+", "f0", "exon", "g1", "t1", {}),
    ]
    sch = (
        "referenceName string, start long, end long, strand string, featureId string, "
        "featureType string, geneId string, transcriptId string, attributes map<string,string>"
    )
    df = spark.createDataFrame(rows, sch)
    import pyspark.sql.functions as F

    df = (
        df.withColumn("name", F.lit(None).cast("string"))
        .withColumn("source", F.lit(None).cast("string"))
        .withColumn("phase", F.lit(None).cast("int"))
        .withColumn("frame", F.lit(None).cast("int"))
        .withColumn("score", F.lit(None).cast("double"))
        .withColumn("exonId", F.lit(None).cast("string"))
    )
    got = [
        (r["start"], r["featureId"], r["attributes"].get("exon_number") if r["attributes"] else None)
        for r in sort_features_by_reference(df).collect()
    ]
    assert got == [
        (50, "zzz", None),
        (100, "f0", None),
        (100, "f1", "2"),
        (100, "f1", "10"),
        (100, None, None),
    ]

    # numPartitions parity (FeatureDataset.scala:935 sortBy(.., n)):
    # requested partition count honored AND global order preserved
    parted = sort_features_by_reference(df, num_partitions=2)
    assert parted.rdd.getNumPartitions() == 2
    got2 = [
        (r["start"], r["featureId"],
         r["attributes"].get("exon_number") if r["attributes"] else None)
        for r in parted.collect()
    ]
    assert got2 == got


def test_sequence_dictionary_compat_and_filter():
    """SequenceDictionarySuite.scala:105-119 (compatibility is equality
    on the overlap, order-insensitive) and :232-274 (filter to
    reference names keeps order, reassigns dense indices)."""
    from adam_spark.core.metadata import Reference, SequenceDictionary

    d1 = SequenceDictionary([Reference("chr1", 1000), Reference("chr2", 2000)])
    d2 = SequenceDictionary([Reference("chr2", 2000), Reference("chr1", 1000)])
    d3 = SequenceDictionary([Reference("chr1", 999)])
    d4 = SequenceDictionary([Reference("chr3", 3000)])
    assert d1.is_compatible(d2) and d2.is_compatible(d1)
    assert not d1.is_compatible(d3)
    assert d1.is_compatible(d4)  # no overlap → compatible
    f = d1.filter_to_reference_names("chr2")
    assert [r.name for r in f.references] == ["chr2"]
    assert f["chr2"].index == 0  # dense re-index
    both = d1.filter_to_reference_names({"chr1", "chr2"})
    assert [r.name for r in both.references] == ["chr1", "chr2"]


def test_sort_features_strand_enum_order(spark):
    """FeatureDatasetSuite 'sort by reference' (:550-570): same region,
    strands order FORWARD < REVERSE < INDEPENDENT < UNKNOWN < null —
    the Strand ENUM ordinal, which alphabetical string order would
    invert (INDEPENDENT before REVERSE)."""
    import pyspark.sql.functions as F

    from adam_spark.operators.sorts import sort_features_by_reference

    rows = [
        ("1", 10, 110, None),
        ("1", 10, 110, "UNKNOWN"),
        ("1", 10, 110, "INDEPENDENT"),
        ("1", 10, 110, "REVERSE"),
        ("1", 10, 110, "FORWARD"),
        ("1", 1, 100, None),
        ("2", 1, 100, None),
    ]
    df = spark.createDataFrame(
        rows, "referenceName string, start long, end long, strand string"
    )
    for c, t in [("featureId", "string"), ("featureType", "string"),
                 ("name", "string"), ("source", "string"), ("phase", "int"),
                 ("frame", "int"), ("score", "double"), ("geneId", "string"),
                 ("transcriptId", "string"), ("exonId", "string"),
                 ("attributes", "map<string,string>")]:
        df = df.withColumn(c, F.lit(None).cast(t))
    got = [
        (r["referenceName"], r["start"], r["strand"])
        for r in sort_features_by_reference(df).collect()
    ]
    assert got == [
        ("1", 1, None),
        ("1", 10, "FORWARD"),
        ("1", 10, "REVERSE"),
        ("1", 10, "INDEPENDENT"),
        ("1", 10, "UNKNOWN"),
        ("1", 10, None),
        ("2", 1, None),
    ]


def test_sort_against_grch38_sized_dictionary(spark):
    """3,366 contigs (GRCh38 with alts): the contig-index CASE is one
    flat expression, so the sorts neither overflow the JVM stack nor
    lose dictionary order."""
    import random

    from adam_spark import Reference, SequenceDictionary
    from adam_spark.operators.sorts import sort_by_reference_position_and_index

    names = [f"chrUn_{k:04d}" for k in range(3366)]
    random.Random(7).shuffle(names)  # dictionary order ≠ name order
    refs = SequenceDictionary([Reference(name=n, length=10_000) for n in names])
    rows = [(n, 100 + k % 3, True) for k, n in enumerate(reversed(names))]
    df = spark.createDataFrame(
        rows, "referenceName string, start long, readMapped boolean"
    ).withColumn("readName", F.col("referenceName"))
    for out in (sort(df, refs), sort_by_reference_position_and_index(df, refs)):
        assert [r["referenceName"] for r in out.collect()] == names


def test_header_values_with_quote_and_backslash(spark, tmp_path):
    """Read-group IDs, samples, libraries and contig names reach SQL
    text as quoted literals: a ' or \\ in them changes nothing."""
    from adam_spark.sources.sam import load_sam

    rg, sm, lb, ctg = "r'g\\1", "s'm\\1", "l'b\\1", "ch'r\\1"
    line = "{}\t{}\t{}\t{}\t60\t10M\t=\t{}\t{}\tACGTACGTAC\t{}\tRG:Z:{}"
    sam = tmp_path / "quoted.sam"
    sam.write_text("\n".join([
        "@SQ\tSN:chrZ\tLN:1000",
        f"@SQ\tSN:{ctg}\tLN:1000",
        f"@RG\tID:{rg}\tSM:{sm}\tLB:{lb}",
        f"@RG\tID:rg2\tSM:s2\tLB:{lb}",
        "@RG\tID:rg3\tSM:s3\tLB:other",
        # a, b and c share their 5' positions; a and b share a library
        # through different read groups, c is alone in its library
        line.format("a", 99, ctg, 100, 200, 110, "I" * 10, rg),
        line.format("a", 147, ctg, 200, 100, -110, "I" * 10, rg),
        line.format("b", 99, ctg, 100, 200, 110, "5" * 10, "rg2"),
        line.format("b", 147, ctg, 200, 100, -110, "5" * 10, "rg2"),
        line.format("c", 99, ctg, 100, 200, 110, "5" * 10, "rg3"),
        line.format("c", 147, ctg, 200, 100, -110, "5" * 10, "rg3"),
        line.format("z", 99, "chrZ", 500, 600, 110, "I" * 10, rg),
        line.format("z", 147, "chrZ", 600, 500, -110, "I" * 10, rg),
    ]) + "\n")
    gf = load_sam(spark, str(sam))
    samples = {r["readName"]: r["readGroupSampleId"] for r in gf.df.collect()}
    assert samples == {"a": sm, "b": "s2", "c": "s3", "z": sm}

    libs = {g.id: g.library for g in gf.meta.read_groups}
    dups = {
        (r["readName"], r["readInFragment"]): r["duplicateRead"]
        for r in mark_duplicates(gf.df, libs).collect()
    }
    assert {n for (n, _), d in dups.items() if d} == {"b"}

    out = sort(gf.df, gf.meta.references).collect()
    assert [r["referenceName"] for r in out] == ["chrZ"] * 2 + [ctg] * 6
