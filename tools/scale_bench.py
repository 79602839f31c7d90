"""sf0.1 → sf1 (10×) scaling slopes for the most expensive operators
(r6 verdict item 3).

The driver ships no sf1 testdata, so this experiment materializes one:
10 DISJOINT copies of each sf0.1 input, constructed so the workload
scales LINEARLY by design —

- documents: every non-empty token of copy c>0 is suffixed ``~c``, so
  the copies occupy disjoint shingle/token spaces: within-copy
  duplicate structure is preserved exactly, cross-copy Jaccard is 0,
  and pair counts / heavy-hitter sets grow 10×, not 100×.
- embeddings: copy c>0 multiplies every vector elementwise by a fixed
  ±1 pattern (seeded per copy). Within-copy cosines are EXACTLY
  preserved (the flips cancel), cross-copy cosines are ~0 (random
  sign alignment), so near-dup pairs grow 10×.
- intervals / alignments: referenceName (and readName) get a ``~c``
  suffix, so per-reference interval density — the quantity that drives
  overlap-join output quadratically — is CONSTANT; references
  multiply instead. This mirrors how genomic data actually scales
  (more samples/contigs, not 10× depth piled on one coordinate), and
  it is deliberate: the contract queries derive coordinates from
  ``o_orderkey % 8`` references, so naively 10×-ing orders would
  inflate the JOIN OUTPUT ~100× — a workload artifact, not an engine
  cost.

Each input is materialized to repo-local parquet on first use (s1 =
copy 0 only, s10 = all copies) so each timed run pays the same scan
shape; the file-format ops generate their own inputs (a .bgz VCF, a
SAM and its BAM, replicated variant contexts). Per-op: best of RUNS
wall-clocks of a full ``.count()``, cache cleared between runs. Emits
JSON to .scaledata/scale_results.json; MEASURED.md summarizes the
slopes. Arguments name a subset of ops, e.g. the BGZF family:

    python tools/scale_bench.py bgz_vcf_scan bam_scan save_bam_single \
        save_bcf_single save_vcf_bgzf
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from adam_spark import get_spark  # noqa: E402
from adam_spark.sources.tables import load_table  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, ".scaledata")
COPIES = 10
SHIFT = 10**9
DIM = 64
RUNS = 2


def _suffix_tokens(text, c: int):
    if c == 0:
        return text
    return F.array_join(
        F.transform(
            F.split(text, " "),
            lambda t: F.when(t == "", t).otherwise(
                F.concat(t, F.lit(f"~{c}"))
            ),
        ),
        " ",
    )


def _documents(spark: SparkSession, c: int) -> DataFrame:
    d = load_table(spark, BASE, "documents")
    return d.select(
        (F.col("doc_id") + F.lit(c * SHIFT)).alias("doc_id"),
        _suffix_tokens(F.col("text"), c).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def _embeddings(spark: SparkSession, c: int) -> DataFrame:
    """Copy c>0 applies a per-copy random ROTATION Q_c (orthogonal, so
    within-copy inner products — and thus the whole near-dup pair set —
    are preserved exactly) while cross-copy cosines become
    cos(Q_d^T Q_c a, b), i.e. a random rotation of one side:
    concentrated near 0 with std ~ 1/√dim. (Sign-flip diagonals are
    NOT enough: an axis-concentrated vector keeps |cos| ≈ 1 across
    copies half the time, which manufactured cross-copy "duplicates"
    in the first cut of this experiment.)"""
    e = load_table(spark, BASE, "embeddings")
    if c == 0:
        return e.select(
            F.col("vec_id"), F.col("embedding"), F.col("label")
        )
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(4242 + c)
    q, _ = np.linalg.qr(rng.standard_normal((DIM, DIM)))

    def rot(batches):
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            out = (mat @ q.T).astype(np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"] + c * SHIFT,
                    "embedding": [list(map(float, r)) for r in out],
                    "label": pdf["label"],
                }
            )

    return e.mapInPandas(rot, schema=e.schema)


def _ref(c: int, base):
    return base if c == 0 else F.concat(base, F.lit(f"~{c}"))


def _intervals_l(spark: SparkSession, c: int) -> DataFrame:
    o = load_table(spark, BASE, "orders").where("o_orderkey % 5 = 0")
    return o.select(
        _ref(c, F.expr("'c' || cast(o_orderkey % 8 as string)")).alias(
            "referenceName"
        ),
        F.expr("(o_orderkey * 7) % 10000").alias("start"),
        F.expr("(o_orderkey * 7) % 10000 + 10 + (o_orderkey % 30)").alias("end"),
        (F.col("o_orderkey") + F.lit(c * SHIFT)).alias("id"),
    )


def _intervals_r(spark: SparkSession, c: int) -> DataFrame:
    li = load_table(spark, BASE, "lineitem")
    return li.select(
        _ref(c, F.expr("'c' || cast(l_orderkey % 8 as string)")).alias(
            "referenceName"
        ),
        F.expr("(l_orderkey * 7 + l_linenumber * 13) % 10000").alias("start"),
        F.expr(
            "(l_orderkey * 7 + l_linenumber * 13) % 10000 + 8 + (l_partkey % 25)"
        ).alias("end"),
        (F.expr("l_orderkey * 10 + l_linenumber") + F.lit(c * SHIFT)).alias(
            "id"
        ),
    )


def _alignments(spark: SparkSession, c: int) -> DataFrame:
    o = load_table(spark, BASE, "orders")
    return o.select(
        _ref(c, F.expr("'r' || cast(o_orderkey as string)")).alias("readName"),
        _ref(c, F.expr("'c' || cast(o_orderkey % 4 as string)")).alias(
            "referenceName"
        ),
        F.expr("(o_orderkey * 13) % 5000 + 100").alias("start"),
        F.expr(
            "(o_orderkey * 13) % 5000 + 100 + "
            "CASE WHEN o_orderkey % 7 = 0 THEN 45 ELSE 50 END"
        ).alias("end"),
        F.expr(
            "CASE WHEN o_orderkey % 7 = 0 THEN '5S45M' ELSE '50M' END"
        ).alias("cigar"),
        F.expr("o_orderkey % 3 = 0").alias("readNegativeStrand"),
        F.expr("repeat(chr(43 + o_orderkey % 30), 50)").alias("qualityScores"),
        F.lit(True).alias("readMapped"),
        F.lit(True).alias("primaryAlignment"),
        F.lit(False).alias("secondaryAlignment"),
        F.lit(False).alias("supplementaryAlignment"),
        F.lit(False).alias("readPaired"),
        F.lit(None).cast("string").alias("readGroupId"),
        F.lit(None).cast("int").alias("readInFragment"),
    )


def _bqsr_reads(spark: SparkSession, c: int) -> DataFrame:
    """The contract query's BQSR pass-1 input (8M forward-strand reads,
    one MD mismatch each — __spark_entry__.bqsr_observation_table),
    with readGroupId and referenceName suffixed per copy: covariate
    groups multiply, per-group sizes stay constant."""
    import __spark_entry__ as entry

    o = load_table(spark, BASE, "orders")
    return o.select(
        _ref(c, F.expr("'rg' || cast(o_orderkey % 3 as string)")).alias(
            "readGroupId"
        ),
        _ref(c, F.lit("c1")).alias("referenceName"),
        F.expr("o_orderkey % 1000").alias("start"),
        F.lit("8M").alias("cigar"),
        F.expr(
            "cast(o_orderkey % 8 as string) || 'A' || "
            "cast(7 - o_orderkey % 8 as string)"
        ).alias("mismatchingPositions"),
        F.expr(entry._BQSR_SEQ.replace("k", "o_orderkey")).alias("sequence"),
        F.expr(entry._BQSR_QUAL.replace("k", "o_orderkey")).alias(
            "qualityScores"
        ),
        F.lit(True).alias("readMapped"),
        F.lit(True).alias("primaryAlignment"),
        F.lit(False).alias("duplicateRead"),
        F.lit(False).alias("readNegativeStrand"),
        F.lit(60).alias("mappingQuality"),
        F.lit(0).alias("readInFragment"),
    )


def _realign_reads(spark: SparkSession, c: int) -> DataFrame:
    """The realign_indels contract query's three read classes (clean /
    deletion-consensus / misaligned-over-deletion, __spark_entry__.
    realign_indels_reads), spread over 16 indel piles per copy via
    referenceName = 'c'||k%16. Copies suffix the reference, so target
    COUNT grows 10× while per-target pile sizes stay constant — the
    shape the r9 target-finder rewrite (narrow Catalyst aggregate +
    per-contig chain-merge) must scale along."""
    import __spark_entry__ as entry
    from adam_spark.functions.cigar import md_from_reference

    ct = entry._MD_CONTIG
    del_seq = ct[114:118] + ct[120:128]
    mis_seq = ct[115:118] + ct[120:127]
    mis_md, _ = md_from_reference("10M", mis_seq, ct[115:125])
    o = load_table(spark, BASE, "orders")
    return o.select(
        _ref(c, F.expr("'c' || cast(o_orderkey % 16 as string)")).alias(
            "referenceName"
        ),
        F.expr("'r' || cast(o_orderkey as string)").alias("readName"),
        F.expr(
            "case when o_orderkey % 3 = 0 then o_orderkey % 100 "
            "when o_orderkey % 3 = 1 then 114 else 115 end"
        ).cast("long").alias("start"),
        F.expr(
            "case when o_orderkey % 3 = 0 then o_orderkey % 100 + 10 "
            "when o_orderkey % 3 = 1 then 128 else 125 end"
        ).cast("long").alias("end"),
        F.expr(
            f"case when o_orderkey % 3 = 0 then substring('{ct}', cast(o_orderkey % 100 + 1 as int), 10) "
            f"when o_orderkey % 3 = 1 then '{del_seq}' else '{mis_seq}' end"
        ).alias("sequence"),
        F.expr(
            "case when o_orderkey % 3 = 1 then repeat('I', 12) else repeat('I', 10) end"
        ).alias("qualityScores"),
        F.expr(
            "case when o_orderkey % 3 = 0 then '10M' "
            "when o_orderkey % 3 = 1 then '4M2D8M' else '10M' end"
        ).alias("cigar"),
        F.lit(True).alias("readMapped"),
        F.expr(
            f"case when o_orderkey % 3 = 0 then '10' "
            f"when o_orderkey % 3 = 1 then '4^{ct[118:120]}8' else '{mis_md}' end"
        ).alias("mismatchingPositions"),
        F.lit(40).alias("mappingQuality"),
        F.lit(False).alias("duplicateRead"),
        F.lit(True).alias("primaryAlignment"),
    )


BUILDERS = {
    "documents": _documents,
    "embeddings": _embeddings,
    "intervals_l": _intervals_l,
    "intervals_r": _intervals_r,
    "alignments": _alignments,
    "bqsr_reads": _bqsr_reads,
    "realign_reads": _realign_reads,
}


def _bgz_file(scale: str) -> str:
    """A generated multi-block .bgz VCF: 400k body lines at s1, 4M at
    s10 — plain row growth, the splittable block-range scan's cost is
    decompress + line-split per range."""
    path = os.path.join(OUT, scale, "scan.vcf.bgz")
    if not os.path.exists(path):
        from adam_spark.sources.bgzf import compress_to

        os.makedirs(os.path.dirname(path), exist_ok=True)
        n = 400_000 if scale == "s1" else 4_000_000
        header = (
            "##fileformat=VCFv4.2\n##contig=<ID=chr1,length=500000000>\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        )
        body = "".join(
            f"chr1\t{i + 1}\t.\tA\tG\t50\tPASS\tDP={i % 97}\n" for i in range(n)
        )
        compress_to(path, (header + body).encode())
    return path


def _sam_file(scale: str) -> str:
    """A generated single-end SAM: 50k reads at s1, 500k at s10, one
    contig, 100 bp reads with two typed tags — plain row growth."""
    path = os.path.join(OUT, scale, "reads.sam")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        n = 50_000 if scale == "s1" else 500_000
        rng = random.Random(11)
        with open(path, "w") as f:
            f.write("@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:100000000\n")
            for i in range(n):
                seq = "".join(rng.choice("ACGT") for _ in range(100))
                f.write(
                    f"r{i:07d}\t{16 if i % 3 else 0}\tchr1\t{1 + i * 50}\t60\t100M"
                    f"\t*\t0\t0\t{seq}\t{'I' * 100}\tNM:i:{i % 4}\tRG:Z:rg1\n"
                )
    return path


def _bam_file(spark: SparkSession, scale: str) -> str:
    """The generated SAM saved once as an indexed BAM (the bam_scan
    input)."""
    path = os.path.join(OUT, scale, "scan.bam")
    if not os.path.exists(path):
        from adam_spark.sources.bam import save_bam
        from adam_spark.sources.sam import load_sam

        save_bam(load_sam(spark, _sam_file(scale)), path)
    return path


#: a 6-site, 3-sample VCF (GT/GQ/DP cells, Integer and Float INFO,
#: one multiallelic site): the seed the VCF writer ops replicate
_BASE_VCF = """##fileformat=VCFv4.2
##contig=<ID=1,length=249250621>
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3
1\t101\trs1\tA\tG\t50\tPASS\tDP=30;AF=0.5\tGT:GQ:DP\t0/1:40:10\t1/1:35:9\t0/0:50:11
1\t202\t.\tCT\tC\t38.5\tPASS\tDP=25;AF=0.25\tGT:GQ:DP\t0/0:45:8\t0/1:30:9\t0/0:48:8
1\t303\trs3\tG\tA,T\t60\tPASS\tDP=40;AF=0.3,0.1\tGT:GQ:DP\t1/2:20:14\t0/1:33:13\t0/0:51:13
1\t404\t.\tT\tTA\t12\tq10\tDP=18;AF=0.17\tGT:GQ:DP\t0/1:12:6\t./.:.:.\t0/0:40:6
1\t505\trs5\tC\tG\t99\tPASS\tDP=33;AF=1\tGT:GQ:DP\t1/1:60:11\t1/1:58:11\t1/1:61:11
1\t606\t.\tA\tC\t45\tPASS\tDP=21;AF=0.5\tGT:GQ:DP\t0|1:41:7\t1|0:39:7\t0/1:37:7
"""


def _vcf_contexts(spark: SparkSession, scale: str):
    """Variant contexts for the VCF/BCF writer slopes: ``_BASE_VCF``
    (6 sites × 3 samples) replicated with shifted starts — 20.4k rows
    at s1, 204k at s10. The writers have no joins; plain row growth is
    linear by design."""
    from adam_spark.core.genomic_frame import GenomicFrame
    from adam_spark.sources.parquet import load_parquet, save_parquet
    from adam_spark.sources.vcf import load_vcf

    path = os.path.join(OUT, scale, "vcontexts")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = os.path.join(OUT, "base.vcf")
        os.makedirs(OUT, exist_ok=True)
        with open(base, "w") as f:
            f.write(_BASE_VCF)
        gf = load_vcf(spark, base)
        reps = 3400 if scale == "s1" else 34000
        big = (
            gf.df.crossJoin(
                spark.range(reps).select(F.col("id").alias("__rep"))
            )
            .withColumn("start", F.col("start") + F.col("__rep") * 1000)
            .withColumn(
                "variant",
                F.col("variant").withField(
                    "start", F.col("variant.start") + F.col("__rep") * 1000
                ),
            )
            .drop("__rep")
        )
        save_parquet(GenomicFrame(big, gf.meta), path)
    return load_parquet(spark, path)


def materialize(spark: SparkSession, scale: str, name: str) -> str:
    """One input table at one scale, built on first use → its path.
    The first timed run of an op may pay for it; best-of-RUNS keeps it
    out of the recorded time, as for the generated file inputs."""
    path = os.path.join(OUT, scale, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = BUILDERS[name](spark, 0)
        for c in range(1, COPIES if scale == "s10" else 1):
            df = df.unionByName(BUILDERS[name](spark, c))
        df.write.mode("overwrite").parquet(path)
        print(f"materialized {scale}/{name}", flush=True)
    return path


def _ops(spark: SparkSession, scale: str):
    from adam_spark.llm.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_between,
        tokens,
    )
    from adam_spark.llm.similarity import embedding_near_duplicates
    from adam_spark.llm.sketches import cms_heavy_hitters
    from adam_spark.operators.bqsr import observe_covariates
    from adam_spark.operators.coverage import to_coverage
    from adam_spark.operators.mark_duplicates import mark_duplicates
    from adam_spark.operators.region_join import region_join

    from adam_spark.sources.bam import load_bam
    from adam_spark.sources.sam import load_sam
    from adam_spark.sources.vcf import _bgz_text

    def rd(name):
        return spark.read.parquet(materialize(spark, scale, name))

    def _bloom_probe(docs):
        from adam_spark.llm.dedup import word_ngrams
        from adam_spark.llm.sketches import bloom_build, bloom_contains_ngrams

        bench = (
            docs.where(F.col("doc_id") % 50 == 0)
            .select(F.explode(word_ngrams("text", 4)).alias("gram"))
            .distinct()
        )
        bloom = bloom_build(bench, "gram", num_bits=1 << 20, num_hashes=5)
        n = bloom_contains_ngrams(
            bloom, docs.where(F.col("doc_id") % 50 != 0), "text",
            n=4, num_bits=1 << 20, num_hashes=5,
        ).count()
        bloom.unpersist()
        return n

    def _semantic(embs, n_centroids, max_cluster_size, split_mode="salt"):
        from adam_spark.llm.similarity import semantic_dedup

        return semantic_dedup(
            embs,
            threshold=0.9,
            n_centroids=n_centroids,
            max_cluster_size=max_cluster_size,
            split_mode=split_mode,
        ).count()

    def _gopher(docs):
        from adam_spark.llm.text import gopher_quality

        return gopher_quality(docs).count()

    def _boilerplate(docs):
        from adam_spark.llm.dedup import remove_repeated_spans

        return remove_repeated_spans(docs, delimiter=" ", min_frac=0.5).count()

    def _bigram_lm(docs):
        from adam_spark.llm.text import bigram_lm_scores

        return bigram_lm_scores(docs).count()

    def _dedup_substrings(docs):
        from adam_spark.llm.dedup import remove_duplicate_substrings

        return remove_duplicate_substrings(docs, k=30, stride=7).count()

    def _ivf_quant(embs):
        # fixed 10-query probe set over a 10×-growing corpus: the cost
        # driver is the corpus-side assignment map + bucket scan, the
        # contract shape (queries broadcast)
        from adam_spark.llm.similarity import ivf_topk_quantized

        return ivf_topk_quantized(
            embs, embs.where(F.col("vec_id") < 10), k=5, n_probe=4
        ).count()

    def _realign(reads):
        from adam_spark.operators.realignment import realign_indels

        return realign_indels(reads).count()

    def _save_vcf(gf):
        import shutil

        from adam_spark.sources.vcf import save_vcf

        dst = os.path.join(OUT, "tmp_vcf_out")
        shutil.rmtree(dst, ignore_errors=True)
        n = gf.df.count()
        save_vcf(gf, dst, single_file=False)
        return n

    def _save_vcf_single(gf):
        import shutil

        from adam_spark.sources.vcf import save_vcf

        dst = os.path.join(OUT, "tmp_vcf_single_out")
        shutil.rmtree(dst, ignore_errors=True)
        n = gf.df.count()
        save_vcf(gf, dst, single_file=True)
        return n

    def _save_bcf(gf):
        import shutil

        from adam_spark.sources.bcf import save_bcf

        dst = os.path.join(OUT, "tmp_bcf_out.bcf")
        shutil.rmtree(dst, ignore_errors=True)
        n = gf.df.count()
        stats = save_bcf(gf, dst)
        print(f"  save_bcf shards={stats['shards']}", flush=True)
        return n

    def _save_bam(gf):
        from adam_spark.sources.bam import save_bam

        n = gf.df.count()
        save_bam(gf, os.path.join(OUT, "tmp_bam_out.bam"))
        return n

    def _save_vcf_bgzf(gf):
        from adam_spark.sources.vcf import save_vcf_bgzf

        dst = os.path.join(OUT, "tmp_vcfgz_out.vcf.gz")
        n = gf.df.count()
        stats = save_vcf_bgzf(gf, dst)
        print(f"  save_vcf_bgzf shards={stats['shards']}", flush=True)
        return n

    return {
        # r11 additions (r10 verdict item 1): the distributed
        # single-file family — multi-task encode/compress slopes
        "save_vcf_single": lambda: _save_vcf_single(_vcf_contexts(spark, scale)),
        "save_bcf_single": lambda: _save_bcf(_vcf_contexts(spark, scale)),
        "save_vcf_bgzf": lambda: _save_vcf_bgzf(_vcf_contexts(spark, scale)),
        # the BAM members of the BGZF family: split scan and sharded save
        "bam_scan": lambda: load_bam(spark, _bam_file(spark, scale)).df.count(),
        "save_bam_single": lambda: _save_bam(load_sam(spark, _sam_file(scale))),
        # r10 additions (r9 verdict item 4): measured slopes for the two
        # r9 rewrites — the reference-semantics realignment target
        # finder and the htsjdk-parity VCF writer
        "realign_indels": lambda: _realign(rd("realign_reads")),
        "save_vcf_multi": lambda: _save_vcf(_vcf_contexts(spark, scale)),
        "bgz_vcf_scan": lambda: _bgz_text(spark, [_bgz_file(scale)]).count(),
        "interval_join_inner": lambda: region_join(
            rd("intervals_l"), rd("intervals_r"), how="inner", bin_size=64
        ).count(),
        "interval_join_group_left": lambda: region_join(
            rd("intervals_l"), rd("intervals_r"), group="left", bin_size=64
        ).count(),
        "interval_join_flank_broadcast": lambda: region_join(
            rd("intervals_l"),
            rd("intervals_r"),
            how="inner",
            flank=5,
            bin_size=64,
            broadcast="left",
        ).count(),
        "dedup_minhash": lambda: minhash_lsh_pairs(
            rd("documents"), "doc_id", bands=8, threshold=0.9
        ).count(),
        "dedup_incremental": lambda: minhash_lsh_pairs_between(
            rd("documents").where(F.col("doc_id") % 2 == 1),
            rd("documents").where(F.col("doc_id") % 2 == 0),
            bands=8,
            threshold=0.9,
        ).count(),
        # θ=0.4 is the contract query's setting — the DOCUMENTED
        # weak-prune regime (r=4 sign bits: random collisions scale
        # n²/2^r, similarity.srp_params docstring); θ=0.9 is the
        # production near-dup regime (r=16 prunes hard). θ=0.6 (r=8)
        # and θ=0.8/0.95 (r=16) complete the strategy sweep in
        # MEASURED.md: r ≤ 8 takes the fused kernel, r=16 the band join
        "embedding_near_dup_t04": lambda: embedding_near_duplicates(
            rd("embeddings"), threshold=0.4
        ).count(),
        "embedding_near_dup_t06": lambda: embedding_near_duplicates(
            rd("embeddings"), threshold=0.6
        ).count(),
        "embedding_near_dup_t08": lambda: embedding_near_duplicates(
            rd("embeddings"), threshold=0.8
        ).count(),
        "embedding_near_dup_t09": lambda: embedding_near_duplicates(
            rd("embeddings"), threshold=0.9
        ).count(),
        "embedding_near_dup_t095": lambda: embedding_near_duplicates(
            rd("embeddings"), threshold=0.95
        ).count(),
        "mark_duplicates": lambda: mark_duplicates(rd("alignments")).count(),
        # SemDeDup scaling: sqrt-N default centroids (the r7 sizing
        # knob — total pairwise work ~N^1.5 by the algorithm's own
        # cost model), and fixed-8 centroids to force clusters past
        # max_cluster_size so the salt-split skew guard runs at scale
        "semantic_dedup_sqrtN": lambda: _semantic(rd("embeddings"), None, 10**9),
        "semantic_dedup_k8_guarded": lambda: _semantic(rd("embeddings"), 8, 2048),
        "semantic_dedup_k8_reclustered": lambda: _semantic(
            rd("embeddings"), 8, 2048, split_mode="recluster"
        ),
        "coverage_collapse": lambda: to_coverage(
            rd("intervals_r")
            .select(
                "referenceName",
                "start",
                "end",
                F.lit(True).alias("readMapped"),
                F.lit(None).cast("string").alias("readGroupSampleId"),
            ),
            collapse=True,
        ).count(),
        "bqsr_observe": lambda: observe_covariates(rd("bqsr_reads")).count(),
        # r7b per-row Bloom probe: bench grams from each scale's own
        # doc_id%50 slice (the contract policy — SHIFT is a multiple of
        # 50 so the per-copy pattern is preserved), filter fixed-size,
        # probe a stateless narrow map — slope should be ~linear
        "bloom_decontaminate_per_row": lambda: _bloom_probe(rd("documents")),
        # r8 additions (r7 verdict item 4): the remaining extended-bench
        # entries without a measured 10× slope
        "gopher_quality": lambda: _gopher(rd("documents")),
        "remove_boilerplate": lambda: _boilerplate(rd("documents")),
        # r8b: exact duplicate-substring removal — anchor explode is the
        # dominant term, expect ~linear
        "dedup_substrings": lambda: _dedup_substrings(rd("documents")),
        "doc_bigram_lm_score": lambda: _bigram_lm(rd("documents")),
        "ann_ivf_topk_quantized": lambda: _ivf_quant(rd("embeddings")),
        "cms_heavy_hitters": lambda: cms_heavy_hitters(
            rd("documents").select(
                F.explode(tokens(F.col("text"))).alias("token")
            ),
            "token",
            min_count=100,
            width=256,
            depth=3,
        ).count(),
    }


def warm_up(spark: SparkSession) -> None:
    """One untimed job on every core that calls a pandas UDF, so the
    JVM's SQL path and every Python worker are up before the first timed
    op: without it the first op of a process reads slower than the same
    op run later (embedding_near_dup_t08 at s1: 2.14-2.20 s first,
    1.40-1.58 s third, 4 vCPU)."""
    import pandas as pd

    @F.pandas_udf("long")
    def echo(v: pd.Series) -> pd.Series:
        return v

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, 1, cores).select(F.sum(echo("id"))).collect()


def main() -> None:
    res_path = os.path.join(OUT, "scale_results.json")
    results: dict = {}
    if os.path.exists(res_path):  # incremental: resume a killed run
        with open(res_path) as f:
            results = json.load(f)

    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)

    only = set(sys.argv[1:])  # optional: run a named subset
    for scale in ("s1", "s10"):
        for name, fn in _ops(spark, scale).items():
            if only and name not in only:
                continue
            if results.get(name, {}).get(scale):
                continue
            best, rows = float("inf"), None
            for _ in range(RUNS):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                rows = fn()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(name, {})[scale] = {
                "sec": round(best, 3),
                "rows": rows,
            }
            print(f"{scale} {name}: {best:.2f}s rows={rows}", flush=True)
            with open(res_path, "w") as f:
                json.dump(results, f, indent=2)

    for name, r in results.items():
        if name.startswith("_") or "s1" not in r or "s10" not in r:
            continue
        r["slope"] = round(r["s10"]["sec"] / max(r["s1"]["sec"], 1e-9), 2)
        r["row_ratio"] = round(
            r["s10"]["rows"] / max(r["s1"]["rows"], 1), 2
        )
    results["_meta"] = {
        "base": BASE,
        "copies": COPIES,
        "runs_per_point": RUNS,
        "load_avg": os.getloadavg(),
    }
    with open(res_path, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
