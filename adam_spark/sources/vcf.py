"""VCF source/sink as a DataFrame pipeline.

The reference loads VCF via hadoop-bam + a 2426-LoC htsjdk converter
(ADAMContext.loadVcf:2670; converters/VariantContextConverter.scala) and
saves via VariantContextDataset.saveAsVcf (:427-530). This engine
re-expresses the conversion relationally:

- header ("##" lines) is parsed driver-side → ``header_lines``,
  ``##contig`` → SequenceDictionary, ``#CHROM`` → sample list;
- each body line splits by tab; multiallelic sites explode one row per
  ALT allele with ``splitFromMultiAllelic`` set (the reference's
  splitting rule, VariantContextConverter semantics);
- the per-sample genotype matrix is built with an array ``transform``
  over the sample columns zipped against the header's sample names —
  NO explode + groupBy round-trip, so a load is shuffle-free and scales
  linearly with input splits.

``genotypeLikelihoods`` use the reference's PhredUtils semantics: PL
values (or GL fields folded to max-normalized PLs, as htsjdk does)
convert through ``ln(1 - 10^(-p/10))`` with float truncation below
phred 156 and a log1p branch above, subset to the diploid PL indices of
the row's (split) allele; a trailing ``<NON_REF>`` populates
``nonReferenceLikelihoods`` from the reference-model indices.
Symbolic/breakend ALTs pass through as strings, with INFO END driving
the span.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from adam_spark import schemas
from adam_spark.core.genomic_frame import GenomicFrame
from adam_spark.core.metadata import (
    GenomicMetadata,
    Reference,
    Sample,
    SequenceDictionary,
)
from adam_spark.sources import bgzf

# INFO keys with Number=A (one value per alt allele) in the VCF 4.3 spec
# reserved set — indexed by alt index on multiallelic split.
_PER_ALT_INFO = {"AC", "AF", "CIGAR"}

# INFO keys the converter maps to typed VariantAnnotation fields — the
# exact DefaultHeaderLines.infoHeaderLines set (DefaultHeaderLines.scala:
# 35-95). Everything else (INFO DP included!) flows to the attributes
# map, per-alt-subset by its declared header Number
# (makeVariantFormatFn, VariantContextConverter.scala:1674-1782).
_RESERVED_INFO = {
    "AA", "AC", "AD", "ADF", "ADR", "AF", "CIGAR", "DB", "H2", "H3",
    "VALIDATED", "1000G", "SOMATIC", "ANN",
}

# FORMAT keys mapped to typed Genotype/VariantCallingAnnotations fields
# (DefaultHeaderLines.formatHeaderLines + htsjdk's GL-folds-into-PL).
_RESERVED_FORMAT = {
    "GT", "AD", "DP", "GQ", "PL", "GL", "FT", "PS", "PQ", "SB",
    "MIN_DP", "FS", "MQ", "MQ0",
}


def _line_decls(header_lines: list[str]):
    """Parse ``##INFO=<ID=..,Number=..,Type=..>`` / ``##FORMAT=<..>``
    declarations into {key: (number, type)} dicts. These drive the
    header-typed attribute extraction the reference builds one closure
    per header line for (lineToVariantContextExtractor /
    lineToGenotypeExtractor, VariantContextConverter.scala:1400-1670)."""
    info, fmt = {}, {}
    for line in header_lines:
        for prefix, out in (("##INFO=<", info), ("##FORMAT=<", fmt)):
            if line.startswith(prefix):
                body = line[len(prefix):].rstrip(">")
                fields = {}
                for kv in body.split(","):
                    if "=" in kv:
                        k, v = kv.split("=", 1)
                        if k in ("ID", "Number", "Type"):
                            fields[k] = v
                if "ID" in fields:
                    out[fields["ID"]] = (
                        fields.get("Number", "."),
                        fields.get("Type", "String"),
                    )
    return info, fmt


def _attr_entries(
    entries: Column, decls: dict, reserved: set, ai: Column, is_format: bool
) -> Column:
    """Per-alt subset attribute entries by their declared header Number,
    mirroring the reference's header-driven extractors
    (VariantContextConverter.scala:1400-1782): Number=A takes the alt's
    element, Number=R joins the reference element with the alt's,
    Number=G at genotype level joins the diploid PL-index elements (and
    is unsupported at INFO level, as is Flag at FORMAT level — those
    keys drop, the lenient arm of the reference's strict throw).
    Undeclared keys keep their raw value (lenient superset: htsjdk
    STRICT would reject the file outright)."""
    a_keys = [k for k, (n, _) in decls.items() if n == "A" and k not in reserved]
    r_keys = [k for k, (n, _) in decls.items() if n == "R" and k not in reserved]
    g_keys = [k for k, (n, _) in decls.items() if n == "G" and k not in reserved]
    flt_keys = [k for k, (_, t) in decls.items() if t == "Float" and k not in reserved]
    flag_keys = [
        k for k, (n, t) in decls.items()
        if t == "Flag" and k not in reserved and is_format
    ]
    drop = (g_keys if not is_format else []) + flag_keys

    def _sub(e: Column) -> Column:
        parts = F.split(e["value"], ",")
        val = e["value"]
        if a_keys:
            val = F.when(
                e["key"].isin(a_keys) & (ai >= 0),
                F.try_element_at(parts, (ai + 1).try_cast("int")),
            ).otherwise(val)
        if r_keys:
            # filterArray (VariantContextConverter.scala:1400-1409) is
            # all-or-nothing: any requested index out of range → empty
            # value (pinned on the GIAB excerpt's malformed 3-value
            # Number=R field with 3 alts, VariantContextDatasetSuite
            # "read a vcf file with multi-allelic variants to split")
            val = F.when(
                e["key"].isin(r_keys) & (ai >= 0),
                F.when(
                    F.size(parts) > ai + 1,
                    F.concat_ws(
                        ",",
                        F.try_element_at(parts, F.lit(1)),
                        F.try_element_at(parts, (ai + 2).try_cast("int")),
                    ),
                ).otherwise(F.lit("")),
            ).otherwise(val)
        if is_format and g_keys:
            j = (ai + 1).try_cast("int")
            val = F.when(
                e["key"].isin(g_keys) & (ai >= 0),
                F.when(
                    F.size(parts) > j * (j + 1) / 2 + j,
                    F.concat_ws(
                        ",",
                        F.try_element_at(parts, F.lit(1)),
                        F.try_element_at(parts, (j * (j + 1) / 2 + 1).cast("int")),
                        F.try_element_at(
                            parts, (j * (j + 1) / 2 + j + 1).cast("int")
                        ),
                    ),
                ).otherwise(F.lit("")),
            ).otherwise(val)
        if flt_keys:
            # header-declared Float attributes re-render element-wise
            # through float parse + Java toString ("+Inf"→"Infinity",
            # "nan"→"NaN", "120"→"120.0") — the reference's toFloat
            # (VariantContextConverter.scala:1332-1345) then
            # Float.toString on store; Spark's float cast accepts the
            # same special literals and renders identically. Elements
            # that don't parse (".") pass through raw (lenient).
            val = F.when(
                e["key"].isin(flt_keys) & val.isNotNull() & (val != ""),
                F.array_join(
                    F.transform(
                        F.split(val, ","),
                        lambda x: F.coalesce(
                            x.try_cast("float").cast("string"), x
                        ),
                    ),
                    ",",
                ),
            ).otherwise(val)
        return F.struct(e["key"].alias("key"), val.alias("value"))

    def _keep(e: Column) -> Column:
        k = (
            ~e["key"].isin(list(reserved) + drop)
            if drop
            else ~e["key"].isin(list(reserved))
        )
        if is_format:
            # htsjdk AbstractVCFCodec.createGenotypeMap skips genotype
            # attribute cells whose whole value is '.' (MISSING_VALUE),
            # so the reference's extractors never see them — a missing
            # cell loads as an ABSENT key, which is also what makes the
            # save round trip a fixed point (union-FORMAT lines render
            # '.' for samples lacking a key; the reload drops it again)
            k = k & (e["value"] != ".")
        return k

    kept = F.filter(entries, _keep)
    subset = F.transform(kept, _sub)
    return F.filter(subset, lambda e: e["value"].isNotNull())


def _dot_null(c: Column) -> Column:
    return F.when((c == ".") | (c == ""), None).otherwise(c)


def _tnull(dtype) -> Column:
    return F.lit(None).cast(dtype)


def _info_map(info: Column) -> Column:
    """INFO string → map<string,string>; flags get value 'true'; a
    missing INFO field ('.') is an empty map (VariantContextDatasetSuite
    'load a gvcf with a missing info field set to .')."""
    return F.map_from_entries(
        F.transform(
            F.filter(
                F.split(info, ";"),
                lambda x: (F.length(F.trim(x)) > 0) & (F.trim(x) != "."),
            ),
            lambda kv: F.struct(
                F.substring_index(kv, "=", 1).alias("k"),
                F.when(
                    F.instr(kv, "=") > 0,
                    F.substring(kv, F.instr(kv, "=") + 1, F.lit(1_000_000)),
                )
                .otherwise("true")
                .alias("v"),
            ),
        )
    )


def _per_alt(imap: Column, key: str, ai: Column) -> Column:
    """Element ``ai`` (0-based alt index) of a comma-separated Number=A
    INFO value."""
    return F.try_element_at(F.split(imap.getItem(key), ","), (ai + 1).try_cast("int"))


def _nonempty(c: Column) -> Column:
    return F.when(c != F.lit(""), c)


def _frac_pos(elem: Column, part: int) -> Column:
    """Numerator (part=0, taking an interval's start) or denominator
    (part=1) of a SnpEff 'x/y' fraction, null when absent
    (TranscriptEffectConverter.parseFraction:104-115)."""
    tokens = F.split(elem, "/")
    if part == 0:
        return _nonempty(
            F.try_element_at(F.split(F.try_element_at(tokens, F.lit(1)), "-"), F.lit(1))
        ).try_cast("int")
    return F.when(F.size(tokens) >= 2, _nonempty(F.try_element_at(tokens, F.lit(2))).try_cast("int"))


def _transcript_effects(imap: Column, alt: Column) -> Column:
    """VCF INFO 'ANN' → array<TranscriptEffect>, matched to this row's
    alternate allele (TranscriptEffectConverter.scala:134-233): each
    comma-separated entry is ≥16 pipe-separated fields; entries with
    fewer fields are dropped (LENIENT stringency), empty subfields are
    null, '&'-joined lists split, fractions split on '/'."""
    def _one(entry: Column) -> Column:
        f = F.split(entry, r"\|", -1)

        def g(i: int) -> Column:  # 0-based field accessor, '' → null
            return _nonempty(F.try_element_at(f, F.lit(i + 1)))

        amp = lambda c: F.when(
            c.isNotNull(), F.filter(F.split(c, "&"), lambda x: x != F.lit(""))
        )
        return F.struct(
            g(0).alias("alternateAllele"),
            amp(g(1)).alias("effects"),
            g(3).alias("geneName"),
            g(4).alias("geneId"),
            g(5).alias("featureType"),
            g(6).alias("featureId"),
            g(7).alias("biotype"),
            _frac_pos(F.try_element_at(f, F.lit(9)), 0).alias("rank"),
            _frac_pos(F.try_element_at(f, F.lit(9)), 1).alias("total"),
            g(9).alias("transcriptHgvs"),
            g(10).alias("proteinHgvs"),
            _frac_pos(F.try_element_at(f, F.lit(12)), 0).alias("cdnaPosition"),
            _frac_pos(F.try_element_at(f, F.lit(12)), 1).alias("cdnaLength"),
            _frac_pos(F.try_element_at(f, F.lit(13)), 0).alias("cdsPosition"),
            _frac_pos(F.try_element_at(f, F.lit(13)), 1).alias("cdsLength"),
            _frac_pos(F.try_element_at(f, F.lit(14)), 0).alias("proteinPosition"),
            _frac_pos(F.try_element_at(f, F.lit(14)), 1).alias("proteinLength"),
            g(14).try_cast("int").alias("distance"),
            amp(g(15)).alias("messages"),
        )

    entries = F.split(imap.getItem("ANN"), ",")
    parsed = F.transform(
        F.filter(entries, lambda e: F.size(F.split(e, r"\|", -1)) >= 16), _one
    )
    matched = F.filter(parsed, lambda te: te["alternateAllele"].eqNullSafe(alt))
    return F.when(imap.getItem("ANN").isNotNull() & (F.size(matched) > 0), matched)


def _variant_struct(ai: Column, n_alts: Column, info_decls: dict) -> Column:
    """VARIANT-schema struct from parsed line columns + alt index.

    Typed-field semantics follow variantAnnotationFormatFns
    (VariantContextConverter.scala:571-760): annotation.readDepth is the
    per-alt element of INFO **AD** (Number=R: element 0 is
    referenceReadDepth) — NOT INFO DP, which the reference leaves to the
    header-typed attributes map; ADF/ADR fill the forward/reverse pairs
    the same way; DB/H2/H3/VALIDATED/1000G flags are null when absent
    (the Option fold leaves the Avro field unset) while SOMATIC alone
    defaults to false (formatSomatic:631-640)."""
    imap = F.col("__imap")

    def _flag(key: str) -> Column:
        return F.when(imap.getItem(key).isNotNull(), F.lit(True))

    def _depth_pair(key: str):
        vals = F.split(imap.getItem(key), ",")
        ok = F.size(vals) > (ai + 1)
        ref = F.when(ok, F.try_element_at(vals, F.lit(1))).try_cast("int")
        alt = F.when(
            ok, F.try_element_at(vals, (ai + 2).try_cast("int"))
        ).try_cast("int")
        return ref, alt

    ad_ref, ad_alt = _depth_pair("AD")
    adf_ref, adf_alt = _depth_pair("ADF")
    adr_ref, adr_alt = _depth_pair("ADR")
    ann = F.struct(
        imap.getItem("AA").alias("ancestralAllele"),
        _per_alt(imap, "AC", ai).try_cast("int").alias("alleleCount"),
        ad_alt.alias("readDepth"),
        adf_alt.alias("forwardReadDepth"),
        adr_alt.alias("reverseReadDepth"),
        ad_ref.alias("referenceReadDepth"),
        adf_ref.alias("referenceForwardReadDepth"),
        adr_ref.alias("referenceReverseReadDepth"),
        _per_alt(imap, "AF", ai).try_cast("double").alias("alleleFrequency"),
        _per_alt(imap, "CIGAR", ai).alias("cigar"),
        _flag("DB").alias("dbSnp"),
        _flag("H2").alias("hapMap2"),
        _flag("H3").alias("hapMap3"),
        _flag("VALIDATED").alias("validated"),
        _flag("1000G").alias("thousandGenomes"),
        F.coalesce(_flag("SOMATIC"), F.lit(False)).alias("somatic"),
        _transcript_effects(imap, F.col("__alt")).alias("transcriptEffects"),
        F.map_from_entries(
            _attr_entries(
                F.map_entries(imap), info_decls, _RESERVED_INFO, ai, False
            )
        ).alias("attributes"),
    )
    return F.struct(
        F.col("referenceName").alias("referenceName"),
        F.col("start").alias("start"),
        F.col("end").alias("end"),
        F.col("names").alias("names"),
        (n_alts > 1).alias("splitFromMultiAllelic"),
        F.col("referenceAllele").alias("referenceAllele"),
        F.col("__alt").alias("alternateAllele"),
        F.col("quality").alias("quality"),
        F.col("filtersApplied").alias("filtersApplied"),
        F.col("filtersPassed").alias("filtersPassed"),
        F.col("filtersFailed").alias("filtersFailed"),
        ann.alias("annotation"),
    )


# PhredUtils.scala:52-53
_MLOG10_DIV10 = -2.302585092994046 / 10.0
_M10_DIV_LOG10 = -10.0 / 2.302585092994046


def _phred_to_log_prob(p: Column) -> Column:
    """PhredUtils.phredToLogProbability (PhredUtils.scala:57-63): a
    phred-scaled int as the natural log of the success probability
    ``1 - 10^(-p/10)``. p <= 0 gives ln(0) = -Inf (Spark's log() would
    return null there, so it is special-cased); below phred 156 the
    reference rounds through Float; above it uses log1p(-exp(...)) to
    dodge double underflow."""
    low = (
        F.log(F.lit(1.0) - F.pow(F.lit(10.0), -p.cast("double") / F.lit(10.0)))
        .cast("float")
        .cast("double")
    )
    high = F.log1p(-F.exp(p.cast("double") * F.lit(_MLOG10_DIV10)))
    return (
        F.when(p <= 0, F.lit(float("-inf")))
        .when(p < 156, low)
        .otherwise(high)
    )


def _log_prob_to_phred(lp: Column) -> Column:
    """PhredUtils.logProbabilityToPhred (PhredUtils.scala:110-115):
    inverse of :func:`_phred_to_log_prob`; 0.0 clips to the phred-3233
    underflow floor."""
    return F.when(lp == 0.0, F.lit(3233)).otherwise(
        F.round(F.lit(_M10_DIV_LOG10) * F.log(-F.expm1(lp))).cast("int")
    )


def _diploid_pl_positions(j: Column):
    """1-based positions of the diploid PL entries for allele pair
    (0, j): GenotypeLikelihoods.getPLIndecesOfAlleles(0, j) =
    [0, j(j+1)/2, j(j+1)/2 + j] (VariantContextConverter.scala:1845-1850),
    shifted +1 for element_at."""
    mid = (j * (j + 1) / F.lit(2)).cast("int")
    return F.lit(1), mid + 1, mid + j + 1


def _subset_pl_log_probs(pl: Column, j: Column) -> Column:
    """GLs for (split) allele index ``j``: the three diploid PL entries
    converted through phredToLogProbability. Null (reference: AIOOBE →
    warn and skip, VariantContextConverter.scala:952-957) when the PL
    array is too short; empty when j is 0/negative (the gVCF ref-block
    case gets Array.empty indices, :1846-1850)."""
    p1, p2, p3 = _diploid_pl_positions(j)
    picked = F.array(
        F.try_element_at(pl, p1), F.try_element_at(pl, p2), F.try_element_at(pl, p3)
    )
    return (
        F.when(j <= 0, F.array().cast("array<double>"))
        .when(
            F.size(pl) >= (p3.cast("int")),
            F.transform(picked, lambda x: _phred_to_log_prob(x.try_cast("int"))),
        )
    )


def _genotype_struct(
    sample_name: Column,
    sample_val: Column,
    variant: Column,
    ai: Column,
    nonref_allele_idx: Column,
    format_decls: dict | None = None,
) -> Column:
    """GENOTYPE-schema struct for one sample cell.

    ``ai`` is the 0-based alt index of this (split) row, so VCF allele
    index ``ai+1`` maps to ALT, 0 to REF, other >0 to OTHER_ALT.
    ``nonref_allele_idx`` is the allele index of a trailing symbolic
    <NON_REF> (gVCF reference model), or null — when set, the PL entries
    for the (0, NON_REF) genotypes feed nonReferenceLikelihoods
    (formatNonRefGenotypeLikelihoods, VariantContextConverter.scala:963-974).
    """
    fkeys = F.split(F.col("format"), ":")
    vals = F.split(sample_val, ":")
    m = F.map_from_arrays(F.slice(fkeys, F.lit(1), F.least(F.size(vals), F.size(fkeys))),
                          F.slice(vals, F.lit(1), F.least(F.size(vals), F.size(fkeys))))
    gt = _dot_null(m.getItem("GT"))
    allele_idx = F.split(gt, "[/|]")
    alleles = F.when(
        gt.isNotNull(),
        F.transform(
            allele_idx,
            lambda a: F.when((a == ".") | (a == ""), "NO_CALL")
            .when(a == "0", "REF")
            .when(a.try_cast("int") == (ai + 1).try_cast("int"), "ALT")
            .otherwise("OTHER_ALT"),
        ),
    )
    ad = F.split(m.getItem("AD"), ",")
    # htsjdk folds a GL field into phred-scaled PLs normalized so the
    # best genotype is 0 (GenotypeLikelihoods.getPLs); a PL field is
    # taken verbatim. Both then subset to this row's diploid indices and
    # convert through phredToLogProbability
    # (formatGenotypeLikelihoods, VariantContextConverter.scala:941-961).
    gl_field = F.transform(
        F.split(m.getItem("GL"), ","), lambda x: _dot_null(x).try_cast("double")
    )
    pl_ints = F.when(
        m.getItem("PL").isNotNull(), F.split(m.getItem("PL"), ",")
    ).otherwise(
        F.when(
            m.getItem("GL").isNotNull(),
            F.transform(
                gl_field,
                lambda x: F.round(-10.0 * (x - F.array_max(gl_field)))
                .cast("int")
                .cast("string"),
            ),
        )
    )
    gl = _subset_pl_log_probs(pl_ints, ai + 1)
    nonref_gl = F.when(
        nonref_allele_idx.isNotNull() & pl_ints.isNotNull(),
        _subset_pl_log_probs(pl_ints, nonref_allele_idx),
    )
    ft = _dot_null(m.getItem("FT"))
    sb = F.split(m.getItem("SB"), ",")
    vca = F.struct(
        # genotype filters are ALWAYS applied (formatFilters,
        # VariantContextConverter.scala:1193-1208 "sigh" — htsjdk#741):
        # a missing/'.'/PASS FT means applied-and-passed
        F.lit(True).alias("filtersApplied"),
        (ft.isNull() | (ft == "PASS")).alias("filtersPassed"),
        F.when(ft.isNotNull() & (ft != "PASS"), F.split(ft, ";")).alias("filtersFailed"),
        _tnull("boolean").alias("downsampled"),
        _tnull("double").alias("baseQRankSum"),
        # FORMAT-level FS/MQ/MQ0 (formatFisherStrandBias/formatRmsMapQ/
        # formatMapQ0, VariantContextConverter.scala:1210-1251)
        _dot_null(m.getItem("FS")).try_cast("double").alias("fisherStrandBiasPValue"),
        _dot_null(m.getItem("MQ")).try_cast("double").alias("rmsMapQ"),
        _dot_null(m.getItem("MQ0")).try_cast("int").alias("mapq0Reads"),
        _tnull("double").alias("mqRankSum"),
        _tnull("double").alias("readPositionRankSum"),
        _tnull("array<double>").alias("genotypePriors"),
        _tnull("array<double>").alias("genotypePosteriors"),
        _tnull("double").alias("vqslod"),
        _tnull("string").alias("culprit"),
        # non-reserved FORMAT keys, per-alt-subset by their declared
        # header Number (Number=A → idx-1 element, R → ref+alt pair,
        # G → the diploid PL-index elements; Flag unsupported for
        # FORMAT lines) — makeGenotypeFormatFn's header-driven
        # attributeFns (VariantContextConverter.scala:1794-1920)
        F.map_from_entries(
            _attr_entries(
                F.map_entries(m),
                format_decls or {},
                _RESERVED_FORMAT,
                ai,
                True,
            )
        ).alias("attributes"),
    )
    return F.struct(
        variant.alias("variant"),
        F.col("referenceName").alias("referenceName"),
        F.col("start").alias("start"),
        F.col("end").alias("end"),
        vca.alias("variantCallingAnnotations"),
        sample_name.alias("sampleId"),
        _tnull("string").alias("sampleDescription"),
        _tnull("string").alias("processingDescription"),
        alleles.alias("alleles"),
        _tnull("double").alias("expectedAlleleDosage"),
        F.try_element_at(ad, F.lit(1)).try_cast("int").alias("referenceReadDepth"),
        # ai=-1 marks a gVCF <NON_REF> ref-block row: there is no real
        # alternate, so no AD slot maps to alternateReadDepth
        F.when(
            ai >= 0, F.try_element_at(ad, (ai + 2).try_cast("int")).try_cast("int")
        ).alias("alternateReadDepth"),
        _dot_null(m.getItem("DP")).try_cast("int").alias("readDepth"),
        _dot_null(m.getItem("MIN_DP")).try_cast("int").alias("minReadDepth"),
        _dot_null(m.getItem("GQ")).try_cast("int").alias("genotypeQuality"),
        gl.alias("genotypeLikelihoods"),
        nonref_gl.alias("nonReferenceLikelihoods"),
        # formatStrandBiasComponents (VariantContextConverter.scala:995-1016)
        # requires exactly 4 entries; malformed SB is skipped
        F.when(
            F.size(sb) == 4,
            F.transform(sb, lambda x: x.try_cast("int")),
        ).alias("strandBiasComponents"),
        F.col("__split").alias("splitFromMultiAllelic"),
        F.when(gt.isNotNull(), F.instr(gt, "|") > 0).alias("phased"),
        # PS/PQ only read off phased genotypes (formatPhaseInfo,
        # VariantContextConverter.scala:1018-1045)
        F.when(F.instr(gt, "|") > 0, _dot_null(m.getItem("PS")).try_cast("int")).alias(
            "phaseSetId"
        ),
        F.when(F.instr(gt, "|") > 0, _dot_null(m.getItem("PQ")).try_cast("int")).alias(
            "phaseQuality"
        ),
    )


def _bgz_text_range(path: str, start: int, end: int, first: bool):
    """Executor task: the text lines OWNED by compressed byte range
    [start, end) of a BGZF file — Hadoop LineRecordReader split
    semantics lifted to block-compressed text:

    - a block belongs to the one range containing its START offset
      (:func:`bgzf.next_block_offset` resyncs mid-block range starts);
    - with L = this range's uncompressed length, the task emits every
      line whose local start s satisfies s <= L — INCLUSIVE, matching
      LineRecordReader's ``pos <= end`` — decompressing FORWARD blocks
      as needed to terminate the last owned line;
    - every task but the first discards through its first newline (that
      line was the previous range's final emit). A range whose data has
      no newline at all sits inside one giant line and owns nothing.
    """
    fsize = os.path.getsize(path)
    with open(path, "rb") as f:
        off = start if first else bgzf.next_block_offset(f, start, fsize)
        own = bytearray()
        while off is not None and off < min(end, fsize):
            total, data = bgzf.read_block(f, off)
            own += data
            off += total
        if not first and own.find(b"\n") < 0:
            # owns nothing: empty range, or the interior of one giant
            # line an earlier range reads forward through
            return
        L = len(own)
        buf = bytearray(own)
        # terminate the last owned line: extend until a newline at
        # index >= L (the first task with no blocks before `end` never
        # loops — off already sits at its first forward block)
        while buf.find(b"\n", L) < 0 and off is not None and off < fsize:
            total, data = bgzf.read_block(f, off)
            buf += data
            off += total
    data = bytes(buf)
    pos = 0
    if not first:
        nl = data.find(b"\n")
        if nl < 0 or nl >= L:
            # the whole own region is the interior of one line — it
            # started in an earlier range, which read forward past us
            return
        pos = nl + 1
    while pos <= L and pos < len(data):
        nl = data.find(b"\n", pos)
        if nl < 0:
            yield data[pos:].decode()
            return
        yield data[pos:nl].decode()
        pos = nl + 1


def _bgz_text(
    spark: SparkSession, files: list[str], target_split_bytes: int = 16 << 20
) -> DataFrame:
    """Distributed text scan over BGZF files (htslib ``.bgz``): the
    driver does O(1) work per file (size + first-block probe) and the
    byte ranges are :func:`bgzf.plan_ranges`, so a 100 GB .bgz VCF
    scans as parallel ranges instead of one whole-file-in-memory task.
    A ``.bgz``-named file that is NOT BGZF (plain gzip: no BC
    subfield) falls back to one whole-file gunzip task, Spark's own
    unsplittable-gzip parallelism class."""
    par = spark.sparkContext.defaultParallelism
    tasks: list[dict] = []
    whole: list[str] = []
    for path in files:
        path = os.path.abspath(path)
        if not bgzf.is_bgzf(path):
            whole.append(path)
            continue
        ranges = bgzf.plan_ranges(os.path.getsize(path), 0, target_split_bytes, par)
        tasks += [
            dict(path=path, start=s, end=e, first=i == 0)
            for i, (s, e) in enumerate(ranges)
        ]
    sc = spark.sparkContext
    out = None
    if tasks:
        rdd = sc.parallelize(tasks, max(1, len(tasks))).flatMap(
            lambda t: _bgz_text_range(**t)
        )
        out = spark.createDataFrame(rdd.map(lambda ln: (ln,)), "value string")
    if whole:
        def _gunzip(paths):
            for p in paths:
                text = bgzf.decompress(p).decode()
                for ln in text.rstrip("\n").split("\n"):
                    yield (ln,)

        wdf = spark.createDataFrame(
            sc.parallelize(whole, len(whole)).mapPartitions(_gunzip),
            "value string",
        )
        out = wdf if out is None else out.unionByName(wdf)
    return out


def _vcf_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw VCF lines. ``.bgz`` needs special handling: Spark's text
    reader picks codecs by extension and does not know htslib's
    ``.bgz`` suffix (``.vcf.gz``/``.bgzf.gz`` decode natively — BGZF is
    valid multi-member gzip). ``.bgz`` files route through the
    splittable BGZF block-range scan (``_bgz_text``); in a mixed
    directory/glob, NON-bgz siblings still read via ``spark.read.text``
    and the two scans union — a directory with one .bgz no longer
    forces (or breaks) gunzip for its plain-text parts."""
    import glob as _glob

    if os.path.isdir(path):
        entries = sorted(_glob.glob(os.path.join(path, "*")))
    else:
        entries = sorted(_glob.glob(path)) or [path]
    bgz = [p for p in entries if p.endswith(".bgz") and os.path.isfile(p)]
    rest = [p for p in entries if not p.endswith(".bgz") and os.path.isfile(p)]
    if not bgz:
        return spark.read.text(path)
    out = _bgz_text(spark, bgz)
    if rest:
        out = out.unionByName(spark.read.text(rest))
    return out


def _header_lines_local(path: str) -> list[str]:
    """Stream ONE file's leading '#' lines driver-side — O(header
    bytes), not O(file). gzip.open covers .gz, .bgzf.gz and .bgz alike
    (BGZF is multi-member gzip and the stream decompresses lazily, so a
    100 GB .bgz costs one block here)."""
    import gzip as _gzip

    opener = _gzip.open if path.endswith((".gz", ".bgz")) else open
    out: list[str] = []
    with opener(path, "rt") as f:
        for line in f:
            if not line.startswith("#"):
                break
            out.append(line.rstrip("\n"))
    return out


def _parse_header(spark: SparkSession, path: str):
    """Header lines for a VCF path (file / directory / glob).

    Reads each file's head DRIVER-SIDE like htsjdk's codecs do (the
    reference's loadVcf reads headers through
    VCFHeaderReader.readHeaderFrom before any job runs) — previously
    this was a full distributed scan of every byte just to keep the
    '#'-prefixed lines, i.e. every load paid a second whole-input pass
    at 100 TB. Falls back to the distributed scan for paths the driver
    cannot open (non-local filesystems)."""
    import glob as _glob

    if os.path.isdir(path):
        entries = sorted(_glob.glob(os.path.join(path, "*")))
    else:
        entries = sorted(_glob.glob(path)) or [path]
    files = [p for p in entries if os.path.isfile(p)]
    if files:
        try:
            lines: list[str] = []
            for p in files:
                lines.extend(_header_lines_local(p))
            return _header_from_lines(lines)
        except OSError:
            pass
    hdr_rows = (
        _vcf_text(spark, path)
        .where(F.col("value").startswith("#"))
        .collect()
    )
    return _header_from_lines([r["value"] for r in hdr_rows])


def _header_from_lines(lines: list[str]):
    header_lines, refs, sample_names = [], [], []
    seen_lines, seen_refs = set(), set()
    for line in lines:
        if line.startswith("##"):
            # directory/glob loads see each file's header; repeats
            # collapse so contigs don't duplicate in the dictionary
            # (ADAMContextSuite "load vcf from a directory")
            if line in seen_lines:
                continue
            seen_lines.add(line)
            header_lines.append(line)
            if line.startswith("##contig="):
                body = line[len("##contig=<") : -1]
                fields = dict(
                    kv.split("=", 1) for kv in body.split(",") if "=" in kv
                )
                if "ID" in fields and fields["ID"] not in seen_refs:
                    seen_refs.add(fields["ID"])
                    refs.append(
                        Reference(
                            name=fields["ID"],
                            length=int(fields["length"]) if "length" in fields else None,
                        )
                    )
        elif line.startswith("#CHROM"):
            cols = line.split("\t")
            sample_names = cols[9:] if len(cols) > 9 else []
    return header_lines, refs, sample_names


def mix_header_lines(header_lines: list[str]) -> list[str]:
    """``VariantContextConverter.cleanAndMixInSupportedLines``
    (VariantContextConverter.scala): dedupe the input header lines,
    DROP any INFO/FORMAT line whose ID the converter supports (the
    default declaration replaces it — same ID, canonical Number/Type/
    Description), collapse unstructured ``##KEY=`` lines to one per key
    with the FIRST in file order winning, then append
    ``DefaultHeaderLines.allHeaderLines``.

    The per-key collapse is NOT in cleanAndMixInSupportedLines itself
    (its other-line arm is ``case l => Some(l)``, verbatim) — it is
    inherited from the extraction step feeding it:
    ``VariantContextConverter.headerLines`` (VariantContextConverter.
    scala:271-276) reads ``header.getOtherHeaderLines``, htsjdk 2.19's
    per-KEY other-metadata map, so repeated same-key lines (including
    structured-looking ones htsjdk 2.19 has no typed class for, e.g.
    ``##ALT=<ID=DEL>``/``<ID=DUP>`` or multiple ``##GATKCommandLine``
    entries) collapse before the converter ever sees them. Pinned by
    the byte-golden ``sorted.vcf`` (random.vcf carries THREE
    GATKCommandLine lines; the golden keeps exactly the first,
    CombineVariants). fileformat and
    contig lines are managed separately (version pinned by the writer,
    contigs regenerated from the sequence dictionary). Divergence: the
    reference renames type-MISMATCHED supported lines to BAD_<ID> under
    lenient stringency; this loader drops them with the rest."""
    default_ids = {}
    for line in DEFAULT_HEADER_LINES:
        kind = line.split("=", 1)[0][2:]
        lid = line.split("<ID=", 1)[1].split(",", 1)[0]
        default_ids.setdefault(kind, set()).add(lid)
    out: list[str] = []
    seen = set()
    other_keys = set()
    for line in header_lines:
        if line in seen:
            continue
        if line.startswith(("##fileformat", "##contig=")):
            continue
        if line.startswith(("##INFO=<", "##FORMAT=<")):
            kind = "INFO" if line.startswith("##INFO") else "FORMAT"
            lid = line.split("<ID=", 1)[1].split(",", 1)[0]
            if lid in default_ids.get(kind, ()):
                continue
        elif not line.startswith("##FILTER=<"):
            key = line[2:].split("=", 1)[0]
            if key in other_keys:
                continue
            other_keys.add(key)
        seen.add(line)
        out.append(line)
    return out + DEFAULT_HEADER_LINES


def load_vcf(spark: SparkSession, path: str) -> GenomicFrame:
    """VCF → variant contexts (one row per site × alt allele)."""
    header_lines, refs, sample_names = _parse_header(spark, path)
    header_lines = mix_header_lines(header_lines)

    body = _vcf_text(spark, path).where(
        ~F.col("value").startswith("#") & (F.length(F.trim("value")) > 0)
    )
    return vcf_lines_to_contexts(body, header_lines, refs, sample_names)


def vcf_lines_to_contexts(
    body: DataFrame, header_lines: list[str], refs, sample_names: list[str]
) -> GenomicFrame:
    """Parse a DataFrame of raw VCF body lines (column ``value``) into a
    variant-context frame (shared by the plain and tabix-indexed
    loaders)."""
    t = F.split(F.col("value"), "\t")
    filt = F.try_element_at(t, F.lit(7))
    base = body.select(
        F.try_element_at(t, F.lit(1)).alias("referenceName"),
        (F.try_element_at(t, F.lit(2)).try_cast("long") - 1).alias("start"),
        # symbolic/structural variants carry their span in INFO END
        # (htsjdk vc.getEnd; suite 'Convert htsjdk site-only CNV to
        # ADAM' pins start=9, end=20 off END=20); otherwise
        # start + len(ref). END stays in annotation.attributes so the
        # save side re-emits it and the round trip is closed.
        F.coalesce(
            _info_map(F.try_element_at(t, F.lit(8))).getItem("END").try_cast("long"),
            F.try_element_at(t, F.lit(2)).try_cast("long")
            - 1
            + F.length(F.try_element_at(t, F.lit(4))),
        ).alias("end"),
        F.when(F.try_element_at(t, F.lit(3)) != ".", F.split(F.try_element_at(t, F.lit(3)), ";")).alias("names"),
        F.try_element_at(t, F.lit(4)).alias("referenceAllele"),
        F.split(F.try_element_at(t, F.lit(5)), ",").alias("__alts"),
        _dot_null(F.try_element_at(t, F.lit(6))).try_cast("double").alias("quality"),
        (filt != ".").alias("filtersApplied"),
        (filt == "PASS").alias("filtersPassed"),
        F.when(~filt.isin(".", "PASS"), F.split(filt, ";")).alias("filtersFailed"),
        _info_map(F.try_element_at(t, F.lit(8))).alias("__imap"),
        F.coalesce(F.try_element_at(t, F.lit(9)), F.lit("")).alias("format"),
        F.slice(t, 10, max(len(sample_names), 1)).alias("__samples"),
    )
    # gVCF reference model (VariantContextConverter.scala:360-417): a
    # trailing symbolic <NON_REF> drops from the per-alt expansion when
    # real alts exist (GT indices pointing at it fall through to
    # OTHER_ALT); a ref-block row whose ONLY alt is <NON_REF> keeps one
    # row with a NULL alternate allele and __ai=-1 so no GT index maps
    # to ALT
    real_alts = F.filter(F.col("__alts"), lambda a: a != "<NON_REF>")
    base = base.withColumn(
        # allele index (ref=0) of a trailing <NON_REF>: its 1-based
        # position in the original alt list (referenceModelIndex,
        # VariantContextConverter.scala:405-413)
        # a sites-only '.' ALT behaves like the NON_REF-only case: the
        # reference's List() branch also passes nonRefIndex Some(1)
        # (VariantContextConverter.scala:370-377)
        "__nonref",
        F.when(
            F.try_element_at(F.col("__alts"), F.lit(-1)).isin("<NON_REF>", "."),
            F.size("__alts"),
        ),
    ).withColumn(
        "__alts",
        F.when(F.size(real_alts) > 0, real_alts).otherwise(F.col("__alts")),
    )
    # one row per alt allele (multiallelic split; '.' ALT → single null row)
    split_df = base.select(
        "*",
        F.posexplode(F.col("__alts")).alias("__ai", "__alt_raw"),
    ).select(
        "*",
        F.when(F.col("__alt_raw") == "<NON_REF>", None)
        .otherwise(_dot_null(F.col("__alt_raw")))
        .alias("__alt"),
        (F.size("__alts") > 1).alias("__split"),
    ).withColumn(
        # -1 marks "no real alternate" (gVCF ref block or sites-only '.'):
        # no GT index maps to ALT and the GL index list is empty
        "__ai",
        F.when(F.col("__alt_raw").isin("<NON_REF>", "."), F.lit(-1)).otherwise(
            F.col("__ai")
        ),
    )

    info_decls, format_decls = _line_decls(header_lines)
    variant = _variant_struct(F.col("__ai"), F.size("__alts"), info_decls)
    names_arr = F.array(*[F.lit(n) for n in sample_names])
    with_v = split_df.withColumn("__variant", variant)
    if sample_names:
        genotypes = F.zip_with(
            names_arr,
            F.col("__samples"),
            lambda nm, sv: _genotype_struct(
                nm,
                sv,
                F.col("__variant"),
                F.col("__ai"),
                F.col("__nonref"),
                format_decls,
            ),
        )
    else:
        genotypes = F.lit(None).cast(schemas.ArrayType(schemas.GENOTYPE, True))

    df = with_v.select(
        "referenceName",
        "start",
        "end",
        F.col("__variant").alias("variant"),
        genotypes.alias("genotypes"),
    )
    meta = GenomicMetadata(
        references=SequenceDictionary(refs),
        samples=[Sample(id=s, name=s) for s in sample_names],
        header_lines=header_lines,
        kind="variant_context",
    )
    return GenomicFrame(df, meta)


def contexts_to_variants_frame(gf: GenomicFrame) -> GenomicFrame:
    """Variant contexts → site-level VARIANT frame.

    ``VariantContextDataset.toVariants`` (VariantContextDataset.scala:
    336-344) FILTERS the FORMAT header lines out of the resulting
    VariantDataset and carries no samples — a sites-only save therefore
    writes neither FORMAT declarations nor sample columns (pinned
    byte-exact against the adam-cli goldens sorted-variants.vcf /
    sorted-variants.lex.vcf)."""
    df = gf.df.select("variant.*")
    meta = gf.meta.copy()
    meta.kind = "variant"
    meta.header_lines = [
        h for h in meta.header_lines if not h.startswith("##FORMAT=")
    ]
    meta.samples = []
    return GenomicFrame(schemas.conform(df, schemas.VARIANT), meta)


def contexts_to_genotypes_frame(gf: GenomicFrame) -> GenomicFrame:
    """Variant contexts → per-sample GENOTYPE frame."""
    df = gf.df.select(F.explode("genotypes").alias("g")).select("g.*")
    meta = gf.meta.copy()
    meta.kind = "genotype"
    return GenomicFrame(df, meta)


def load_vcf_variants(spark: SparkSession, path: str) -> GenomicFrame:
    """VCF → site-level VARIANT rows (ADAMContext.loadVariants path)."""
    return contexts_to_variants_frame(load_vcf(spark, path))


def load_vcf_genotypes(spark: SparkSession, path: str) -> GenomicFrame:
    """VCF → per-sample GENOTYPE rows (ADAMContext.loadGenotypes path)."""
    return contexts_to_genotypes_frame(load_vcf(spark, path))


#: DefaultHeaderLines.allHeaderLines (converters/DefaultHeaderLines.scala:
#: 34-199) as VCF text: the INFO/FORMAT declarations for every field the
#: converter reads or writes, emitted when saving a frame whose metadata
#: carries no loaded header.
DEFAULT_HEADER_LINES = [
    '##INFO=<ID=AA,Number=1,Type=String,Description="Ancestral allele">',
    '##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">',
    '##INFO=<ID=AD,Number=R,Type=Integer,Description="Total read depths for each allele">',
    '##INFO=<ID=ADF,Number=R,Type=Integer,Description="Read depths for each allele on the forward strand">',
    '##INFO=<ID=ADR,Number=R,Type=Integer,Description="Read depths for each allele on the reverse strand">',
    '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency for each allele">',
    '##INFO=<ID=CIGAR,Number=A,Type=String,Description="Cigar string describing how to align alternate alleles to the reference allele">',
    '##INFO=<ID=DB,Number=0,Type=Flag,Description="Membership in dbSNP">',
    '##INFO=<ID=H2,Number=0,Type=Flag,Description="Membership in HapMap2">',
    '##INFO=<ID=H3,Number=0,Type=Flag,Description="Membership in HapMap3">',
    '##INFO=<ID=VALIDATED,Number=0,Type=Flag,Description="Validated by follow-up experiment">',
    '##INFO=<ID=1000G,Number=0,Type=Flag,Description="Membership in 1000 Genomes">',
    '##INFO=<ID=SOMATIC,Number=0,Type=Flag,Description="Somatic event">',
    "##INFO=<ID=ANN,Number=.,Type=String,Description=\"Functional annotations: "
    "'Allele | Annotation | Annotation_Impact | Gene_Name | Gene_ID | "
    "Feature_Type | Feature_ID | Transcript_BioType | Rank | HGVS.c | HGVS.p | "
    "cDNA.pos / cDNA.length | CDS.pos / CDS.length | AA.pos / AA.length | "
    "Distance | ERRORS / WARNINGS / INFO'\">",
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype Quality">',
    '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths for the ref and alt alleles in the order listed">',
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Approximate read depth (reads with MQ=255 or with bad mates are filtered)">',
    '##FORMAT=<ID=MIN_DP,Number=1,Type=Integer,Description="Minimum DP observed within the gVCF block">',
    '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="Normalized, Phred-scaled likelihoods for genotypes as defined in the VCF specification">',
    '##FORMAT=<ID=SB,Number=4,Type=Integer,Description="Per-sample component statistics which comprise the Fisher\'s Exact Test to detect strand bias.">',
    '##FORMAT=<ID=PS,Number=1,Type=Integer,Description="Phase set ID">',
    '##FORMAT=<ID=PQ,Number=1,Type=Float,Description="Read-backed phasing quality">',
    '##FORMAT=<ID=FT,Number=.,Type=String,Description="Genotype-level filter">',
    '##FORMAT=<ID=FS,Number=1,Type=Float,Description="Phred-scaled p-value using Fisher\'s exact test to detect strand bias">',
    '##FORMAT=<ID=MQ,Number=1,Type=Float,Description="Root mean square (RMS) mapping quality">',
    '##FORMAT=<ID=MQ0,Number=1,Type=Float,Description="Total number of reads with mapping quality=0">',
]


# --- sink -----------------------------------------------------------------
def render_vcf_header(gf: GenomicFrame, sample_names: list[str] | None = None) -> list[str]:
    """Assemble the full VCF header (## lines + #CHROM) for a frame —
    the text save_vcf writes above the body and what saveVcfHeaders
    persists standalone."""
    if sample_names is None:
        sample_names = [s.id for s in gf.meta.samples]
    lines = [h for h in gf.meta.header_lines if h.startswith("##")]
    # frames built without a loaded VCF header get the reference's
    # default INFO/FORMAT declarations (DefaultHeaderLines.allHeaderLines,
    # converters/DefaultHeaderLines.scala — its VariantContextDataset
    # default), so external parsers see every field this writer can emit
    if not any(h.startswith(("##INFO", "##FORMAT")) for h in lines):
        lines = lines + DEFAULT_HEADER_LINES
    # htsjdk writer layout (VCFWriter via the reference's saveAsVcf,
    # byte-pinned against sorted.vcf/sorted.lex.vcf in
    # tests/test_reference_goldens.py): the version line is the
    # WRITER'S (4.2, whatever the input declared), every non-contig
    # metadata line follows in full-text ASCII order (which groups by
    # key — FILTER < FORMAT < INFO — and sorts IDs within a group; the
    # '+'-suffixed VQSR tranche sorts before its prefix twin because
    # '+' < ','), and contig lines come last in sequence-dictionary
    # order, NOT string order.
    body_lines = sorted(
        {h for h in lines if not h.startswith(("##fileformat", "##contig="))}
    )
    header = ["##fileformat=VCFv4.2", *body_lines]
    have_contigs = [h for h in lines if h.startswith("##contig=")]
    if have_contigs and not gf.meta.references.references:
        header.extend(have_contigs)
    else:
        for r in gf.meta.references.references:
            header.append(
                f"##contig=<ID={r.name}"
                + (f",length={r.length}" if r.length else "")
                + ">"
            )
    chrom = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
    if sample_names:
        chrom += "\tFORMAT\t" + "\t".join(sample_names)
    header.append(chrom)
    return header


def save_vcf_headers(gf: GenomicFrame, path: str) -> None:
    """Save ONLY the VCF header to ``path/_header``
    (VariantDataset.saveVcfHeaders, VariantDataset.scala:309-316 —
    also what saveMetadata drops next to every Parquet save). Driver-
    side write: the header is metadata-sized by construction."""
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_header"), "w") as fh:
        for line in render_vcf_header(gf):
            fh.write(line + "\n")


def _render_vcf(
    gf: GenomicFrame, stringency: str = "LENIENT"
) -> tuple[list[str], DataFrame]:
    """Variant contexts → (header lines, body-lines DataFrame) —
    the shared renderer behind save_vcf / save_vcf_bgzf / save_bcf
    (VariantContextDataset.saveAsVcf:427). The body carries
    (__o, __k2, value) where (__o, __k2) is the frame-order sort key.

    FORMAT is rebuilt per row: GT plus whichever of
    AD/DP/GQ/MIN_DP/PL/FT/PS/PQ/SB/FS/MQ/MQ0 any genotype on the line
    carries (PL re-phreds genotypeLikelihoods via logProbabilityToPhred,
    falling back to nonReferenceLikelihoods on gVCF ref-block rows), then
    the union of genotype attribute keys. INFO is rebuilt from
    ``variant.annotation.attributes`` plus the typed AC/AF/DP fields.

    Known deviations (documented, not silent): (1) multiallelic sites
    arrive SPLIT from the loader (one row per alt) and are written as
    one line per alt — this repo's loader re-merges nothing on read, so
    the round-trip is closed within the engine, but external tools see
    per-alt lines and an OTHER_ALT genotype index of '2' that references
    no allele on its line (the reference re-merges via VariantContext).
    (2) INFO string values equal to the literal 'true' are
    indistinguishable from flags in the attributes map and re-emit as
    bare keys. (3) per-sample formatting filters the genotypes array
    per column — O(samples²) per row; fine for cohort-sized sample
    lists, wrong shape for biobank-scale VCFs (pivot first if needed).
    """
    df = gf.df
    sample_names = [s.id for s in gf.meta.samples]
    cols = _render_columns_cached(
        df.sparkSession,
        sample_names,
        df.schema["genotypes"].dataType,
        df.schema["variant"].dataType,
        stringency,
    )
    if sample_names:
        df = (
            df.withColumn("__gcells", cols["gcells"])
            .withColumn("__fmtk", cols["fmtk"])
            .withColumn("__rcells", cols["rcells"])
        )
    # the body keeps the FRAME'S row order (header flag + monotonic id
    # as the explicit sort key — plan-level union ordering is NOT
    # guaranteed through AQE): the reference's saveAsVcf writes whatever
    # order sort()/sortLexicographically() produced, and a
    # writer-imposed name sort would break dictionary-index ordering
    # (sorted.vcf's golden order is 1, 2, 13 — contig INDEX, not name)
    body = df.select(
        F.lit(1).alias("__o"),
        F.monotonically_increasing_id().alias("__k2"),
        cols["line"].alias("value"),
    )

    header = render_vcf_header(gf, sample_names)
    return header, body


#: built render Columns per (application, sample list, genotypes dtype,
#: variant dtype) — the tree is a pure function of those, and
#: constructing it costs ~1.4 s of py4j round trips (measured round
#: 11); repeated saves in one session (a bench best-of-N, a
#: multi-output pipeline) reuse it. The variant dtype is in the key so
#: two frames with differing variant/annotation schemas in one session
#: never reuse a tree built for the other.
_RENDER_COLS_CACHE: dict = {}


def _render_columns_cached(
    spark, sample_names: list[str], gt_dtype, variant_dtype=None,
    stringency: str = "LENIENT",
) -> dict:
    key = (
        spark.sparkContext.applicationId,
        tuple(sample_names),
        str(gt_dtype),
        str(variant_dtype),
        stringency,
    )
    cols = _RENDER_COLS_CACHE.get(key)
    if cols is None:
        cols = _build_render_columns(sample_names, gt_dtype, stringency)
        _RENDER_COLS_CACHE.clear()  # one live entry: keys are few but big
        _RENDER_COLS_CACHE[key] = cols
    return cols


def _build_render_columns(
    sample_names: list[str], gt_dtype, stringency: str = "LENIENT"
) -> dict:
    """The VCF line render expression tree (see ``_render_vcf``), as
    reusable unresolved Columns: ``gcells``/``fmtk``/``rcells`` stage
    the per-genotype work into named columns (inlining them would
    duplicate the subtree per reference), ``line`` is the final
    concat_ws."""
    v = F.col("variant")
    ann = v["annotation"]

    def _frac_str(pos: Column, length: Column) -> Column:
        return F.when(
            pos.isNotNull() & length.isNotNull(),
            F.concat(pos.cast("string"), F.lit("/"), length.cast("string")),
        ).otherwise(F.coalesce(pos.cast("string"), F.lit("")))

    ann_field = F.when(
        ann["transcriptEffects"].isNotNull() & (F.size(ann["transcriptEffects"]) > 0),
        F.concat(
            F.lit("ANN="),
            F.array_join(
                F.transform(
                    ann["transcriptEffects"],
                    lambda te: F.concat_ws(
                        "|",
                        F.coalesce(te["alternateAllele"], F.lit("")),
                        F.array_join(F.coalesce(te["effects"], F.array().cast("array<string>")), "&"),
                        F.lit(""),  # annotationImpact: not modeled (SnpEff extra)
                        F.coalesce(te["geneName"], F.lit("")),
                        F.coalesce(te["geneId"], F.lit("")),
                        F.coalesce(te["featureType"], F.lit("")),
                        F.coalesce(te["featureId"], F.lit("")),
                        F.coalesce(te["biotype"], F.lit("")),
                        _frac_str(te["rank"], te["total"]),
                        F.coalesce(te["transcriptHgvs"], F.lit("")),
                        F.coalesce(te["proteinHgvs"], F.lit("")),
                        _frac_str(te["cdnaPosition"], te["cdnaLength"]),
                        _frac_str(te["cdsPosition"], te["cdsLength"]),
                        _frac_str(te["proteinPosition"], te["proteinLength"]),
                        F.coalesce(te["distance"].cast("string"), F.lit("")),
                        F.array_join(F.coalesce(te["messages"], F.array().cast("array<string>")), "&"),
                    ),
                ),
                ",",
            ),
        ),
    )

    def _depth_out(key: str, ref_field: str, alt_field: str) -> Column:
        """INFO AD/ADF/ADR from the typed depth pair. Half-set pairs
        raise, as extractReadDepth/Forward/Reverse do under the default
        STRICT stringency (VariantContextConverter.scala:816-857; suite
        'read depth without reference read depth' etc.)."""
        ref, alt = ann[ref_field], ann[alt_field]
        return F.when(
            ref.isNotNull() & alt.isNotNull(),
            F.concat(F.lit(key + "="), ref, F.lit(","), alt),
        ).when(
            ref.isNotNull() | alt.isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "Both %s and %s must be specified if either is: "
                        % (ref_field, alt_field)
                    ),
                    F.coalesce(ref.cast("string"), F.lit("null")),
                    F.lit(","),
                    F.coalesce(alt.cast("string"), F.lit("null")),
                )
            ).cast("string"),
        )

    def _flag_out(key: str, field: str) -> Column:
        # extract fns attach the boolean; htsjdk's writer emits a Flag
        # key only when true (VariantContextConverter.scala:757-798)
        return F.when(ann[field] == True, F.lit(key))  # noqa: E712

    # typed annotation fields re-emit merged with the attributes map and
    # key-sorted — htsjdk's VCFEncoder writes INFO in ASCII key order
    # (byte-pinned against sorted.vcf: ...ClippingRankSum;DB;DP...,
    # POSITIVE_TRAIN_SITE between MQ0 and QD, lowercase culprit last)
    def _e(key: str, text: Column) -> Column:
        return F.when(
            text.isNotNull(),
            F.struct(F.lit(key).alias("k"), text.alias("t")),
        )

    typed_entries = F.array(
        _e("AA", F.when(
            ann["ancestralAllele"].isNotNull(),
            F.concat(F.lit("AA="), ann["ancestralAllele"]),
        )),
        _e("AC", F.when(
            ann["alleleCount"].isNotNull(),
            F.concat(F.lit("AC="), ann["alleleCount"]),
        )),
        _e("AD", _depth_out("AD", "referenceReadDepth", "readDepth")),
        _e("ADF", _depth_out("ADF", "referenceForwardReadDepth", "forwardReadDepth")),
        _e("ADR", _depth_out("ADR", "referenceReverseReadDepth", "reverseReadDepth")),
        _e("AF", F.when(
            ann["alleleFrequency"].isNotNull(),
            F.concat(F.lit("AF="), ann["alleleFrequency"]),
        )),
        _e("CIGAR", F.when(
            ann["cigar"].isNotNull(), F.concat(F.lit("CIGAR="), ann["cigar"])
        )),
        _e("DB", _flag_out("DB", "dbSnp")),
        _e("H2", _flag_out("H2", "hapMap2")),
        _e("H3", _flag_out("H3", "hapMap3")),
        _e("VALIDATED", _flag_out("VALIDATED", "validated")),
        _e("1000G", _flag_out("1000G", "thousandGenomes")),
        _e("SOMATIC", _flag_out("SOMATIC", "somatic")),
        _e("ANN", ann_field),
    )
    attr_entries = F.transform(
        F.map_entries(F.coalesce(ann["attributes"], F.create_map())),
        lambda e: F.struct(
            e["key"].alias("k"),
            F.when(e["value"] == "true", e["key"])
            .otherwise(F.concat(e["key"], F.lit("="), e["value"]))
            .alias("t"),
        ),
    )
    info_entries = F.array_sort(
        F.filter(
            F.concat(typed_entries, attr_entries), lambda x: x.isNotNull()
        )
    )
    info_parts = F.array_join(F.transform(info_entries, lambda x: x["t"]), ";")
    info = F.when(F.length(info_parts) > 0, info_parts).otherwise(".")

    # FORMAT is per-row dynamic (htsjdk writes only keys any genotype on
    # the line carries): GT always, then each typed field present in at
    # least one sample, then the union of genotype attribute keys. The
    # typed-field extractors mirror the reference's extract fns
    # (VariantContextConverter.scala:1057-1160 + genotypeAnnotation
    # extracts :1263-1306).
    _FMT_ORDER = ["AD", "DP", "GQ", "MIN_DP", "PL", "FT", "PS", "PQ", "SB", "FS", "MQ", "MQ0"]

    def _fmt_fields(g: Column) -> dict:
        vca = g["variantCallingAnnotations"]
        gl = g["genotypeLikelihoods"]
        # ref-block rows carry likelihoods only on nonReferenceLikelihoods
        pl_src = F.when(F.size(gl) > 0, gl).otherwise(
            F.when(
                F.size(g["nonReferenceLikelihoods"]) > 0, g["nonReferenceLikelihoods"]
            )
        )
        return {
            # half-set depth pairs raise, as extractAllelicDepth does
            # (suite 'throw iae if missing one component of gt read
            # depth adam->htsjdk', VariantContextConverter.scala)
            "AD": F.when(
                g["referenceReadDepth"].isNotNull() & g["alternateReadDepth"].isNotNull(),
                F.concat_ws(",", g["referenceReadDepth"], g["alternateReadDepth"]),
            ).when(
                g["referenceReadDepth"].isNotNull() | g["alternateReadDepth"].isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "Both referenceReadDepth and alternateReadDepth "
                            "must be specified if either is: "
                        ),
                        F.coalesce(g["referenceReadDepth"].cast("string"), F.lit("null")),
                        F.lit(","),
                        F.coalesce(g["alternateReadDepth"].cast("string"), F.lit("null")),
                    )
                ).cast("string"),
            ),
            "DP": g["readDepth"].cast("string"),
            "GQ": g["genotypeQuality"].cast("string"),
            "MIN_DP": g["minReadDepth"].cast("string"),
            "PL": F.when(
                pl_src.isNotNull(),
                F.array_join(
                    F.transform(pl_src, lambda x: _log_prob_to_phred(x).cast("string")),
                    ",",
                ),
            ),
            # htsjdk VCFEncoder genotype-filter encoding (byte-pinned
            # against sorted.vcf): when the FT key is on the line (some
            # genotype FAILED — see has["FT"] below), failed genotypes
            # emit the ;-joined list and every other genotype emits the
            # literal PASS
            # extractFilters genotype direction (VariantContextConverter.
            # scala:1261-1278): applied-but-passed-null and
            # failed-without-list raise, as the reference requires
            "FT": F.when(
                vca.isNotNull(),
                F.when(
                    F.coalesce(vca["filtersApplied"], F.lit(False)),
                    F.when(
                        vca["filtersPassed"].isNull(),
                        F.raise_error(
                            F.lit("Filters were applied but filters passed is null")
                        ).cast("string"),
                    )
                    .when(vca["filtersPassed"], F.lit("PASS"))
                    .when(
                        F.size(vca["filtersFailed"]) > 0,
                        F.array_join(vca["filtersFailed"], ";"),
                    )
                    .otherwise(
                        F.raise_error(
                            F.lit(
                                "Genotype marked as filtered, but no failed "
                                "filters listed"
                            )
                        ).cast("string")
                    ),
                ).otherwise(F.lit("PASS")),
            ),
            # extractPhaseInfo (VariantContextConverter.scala:1161-1177):
            # PS/PQ attach only when the genotype is phased
            "PS": F.when(
                F.coalesce(g["phased"], F.lit(False)), g["phaseSetId"]
            ).cast("string"),
            "PQ": F.when(
                F.coalesce(g["phased"], F.lit(False)), g["phaseQuality"]
            ).cast("string"),
            # a non-empty SB that is not 4 components: skipped under
            # LENIENT (the default, pinned by the bad-SB vector),
            # raised under STRICT — the reference's strict arm
            # (VariantContextConverterSuite.scala:274 "Convert ADAM SNV
            # w/ genotypes but bad SB to htsjdk with strict validation")
            "SB": (
                F.when(
                    g["strandBiasComponents"].isNotNull()
                    & (F.size(g["strandBiasComponents"]) > 0)
                    & (F.size(g["strandBiasComponents"]) != 4),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "Strand bias components must have 4 "
                                "entries. Instead, found "
                            ),
                            F.size(g["strandBiasComponents"]).cast("string"),
                        )
                    ).cast("string"),
                )
                if stringency == "STRICT"
                else F.when(F.lit(False), F.lit(""))
            ).otherwise(
                F.when(
                    F.size(g["strandBiasComponents"]) == 4,
                    F.array_join(
                        F.transform(
                            g["strandBiasComponents"], lambda x: x.cast("string")
                        ),
                        ",",
                    ),
                )
            ),
            "FS": vca["fisherStrandBiasPValue"].cast("string"),
            "MQ": vca["rmsMapQ"].cast("string"),
            "MQ0": vca["mapq0Reads"].cast("string"),
        }

    gts = F.coalesce(F.col("genotypes"), F.expr("array()").cast(gt_dtype))

    # render every genotype ONCE into (sampleId, GT, key→value map,
    # failed) — the per-genotype work (PL re-phred, depth joins, FT)
    # lives in a single materialized column, so the per-sample cells
    # and the key-presence checks below are cheap lookups instead of
    # re-inlined copies of the whole extractor tree (a 20× wall-clock
    # difference at 200k rows — see MEASURED.md round-9 VCF save row)
    def _gt_entry(gg: Column) -> Column:
        fields = _fmt_fields(gg)
        typed_entries = F.filter(
            F.array(
                *[
                    F.when(
                        fields[k].isNotNull(),
                        F.struct(F.lit(k).alias("key"), fields[k].alias("value")),
                    )
                    for k in _FMT_ORDER
                ]
            ),
            lambda x: x.isNotNull(),
        )
        attr_entries = F.map_entries(
            F.coalesce(
                gg["variantCallingAnnotations"]["attributes"],
                F.expr("cast(map() as map<string,string>)"),
            )
        )
        sep = F.when(F.coalesce(gg["phased"], F.lit(False)), F.lit("|")).otherwise(
            F.lit("/")
        )
        idx = F.array_join(
            F.transform(
                gg["alleles"],
                lambda a: F.when(a == "REF", "0")
                .when(a == "ALT", "1")
                .when(a == "OTHER_ALT", "2")
                .otherwise("."),
            ),
            "\x00",
        )
        gt = F.when(gg["alleles"].isNull(), "./.").otherwise(
            F.replace(idx, F.lit("\x00"), sep)
        )
        failed = F.coalesce(
            gg["variantCallingAnnotations"]["filtersApplied"], F.lit(False)
        ) & ~F.coalesce(gg["variantCallingAnnotations"]["filtersPassed"], F.lit(True))
        return F.struct(
            gg["sampleId"].alias("s"),
            gt.alias("gt"),
            F.map_from_entries(F.concat(typed_entries, attr_entries)).alias("m"),
            failed.alias("failed"),
        )

    gcells_expr = F.transform(gts, _gt_entry)
    gcells = F.col("__gcells")

    # htsjdk includes the FT key only when some genotype on the line
    # FAILED its filters (calcVCFGenotypeKeys sawGenotypeFilter =
    # isFiltered); passed-only lines carry no FT (byte-pinned against
    # sorted.vcf)
    has_ft = F.exists(gcells, lambda e: e["failed"])
    # FORMAT = GT first, then ALL present keys (typed + genotype
    # attributes interleaved) in ASCII order — htsjdk calcVCFGenotypeKeys
    # sorts the union (byte-pinned against sorted.vcf: GT:AD:DP:FT:GQ:PL)
    all_keys = F.array_distinct(
        F.flatten(F.transform(gcells, lambda e: F.map_keys(e["m"])))
    )
    fmtk_expr = F.array_sort(F.filter(all_keys, lambda k: (k != "FT") | has_ft))
    fmt_keys = F.col("__fmtk")
    fmt_col = F.when(
        F.size(fmt_keys) > 0,
        F.concat(F.lit("GT:"), F.array_join(fmt_keys, ":")),
    ).otherwise(F.lit("GT"))

    # render every sample's cell in ONE pass over the genotype array
    # into a sampleId→cell map; per-sample columns are then single map
    # lookups. The previous shape re-filtered the genotype array per
    # sample column — O(samples²) work per row AND an expression tree
    # growing with samples × render-size, which dominated the writer's
    # fixed per-job cost (Catalyst analysis/codegen of the mega-tree;
    # see MEASURED.md round-10 row)
    def _render_cell(e: Column) -> Column:
        vals = F.transform(
            fmt_keys,
            lambda k: F.coalesce(F.try_element_at(e["m"], k), F.lit(".")),
        )
        return F.when(
            F.size(fmt_keys) > 0,
            F.concat(e["gt"], F.lit(":"), F.array_join(vals, ":")),
        ).otherwise(e["gt"])

    rcells_expr = F.map_from_entries(
        F.transform(
            gcells,
            lambda e: F.struct(e["s"].alias("k"), _render_cell(e).alias("v")),
        )
    )
    # a sample with no genotype row on this line renders an all-missing
    # cell (./. + '.' per key), same as the old per-sample fallback
    empty_cell = F.when(
        F.size(fmt_keys) > 0,
        F.concat(
            F.lit("./."),
            F.lit(":"),
            F.array_join(F.transform(fmt_keys, lambda _: F.lit(".")), ":"),
        ),
    ).otherwise(F.lit("./."))

    def cell(name: str) -> Column:
        return F.coalesce(
            F.try_element_at(F.col("__rcells"), F.lit(name)), empty_cell
        )

    # every field coalesced: concat_ws SKIPS nulls, so one null column
    # would silently shift all following fields left (corrupt VCF)
    line = F.concat_ws(
        "\t",
        F.coalesce(v["referenceName"], F.lit(".")),
        F.coalesce((v["start"] + 1).cast("string"), F.lit(".")),
        F.coalesce(F.array_join(v["names"], ";"), F.lit(".")),
        F.coalesce(v["referenceAllele"], F.lit(".")),
        F.coalesce(v["alternateAllele"], F.lit(".")),
        # htsjdk formatQualValue: %.2f with an integral ".00" stripped
        # ("2486.90" stays, "50.00" → "50"; byte-pinned vs sorted.vcf)
        F.when(
            v["quality"].isNotNull(),
            F.regexp_replace(
                F.format_string("%.2f", v["quality"]), r"\.00$", ""
            ),
        ).otherwise("."),
        # extractFilters (VariantContextConverter.scala:541-561):
        # applied-but-passed-null and failed-without-list are the
        # reference's require/IAE contracts, not silent fallbacks
        F.when(~F.coalesce(v["filtersApplied"], F.lit(False)), ".")
        .when(
            v["filtersPassed"].isNull(),
            F.raise_error(
                F.lit("Filters were applied but filters passed is null")
            ).cast("string"),
        )
        .when(v["filtersPassed"], "PASS")
        .when(
            F.size(v["filtersFailed"]) > 0, F.array_join(v["filtersFailed"], ";")
        )
        .otherwise(
            F.raise_error(
                F.lit("Variant marked as filtered, but no failed filters listed")
            ).cast("string")
        ),
        info,
        *( [fmt_col] + [cell(n) for n in sample_names] if sample_names else [] ),
    )
    return {
        "gcells": gcells_expr,
        "fmtk": fmtk_expr,
        "rcells": rcells_expr,
        "line": line,
    }


def save_vcf(
    gf: GenomicFrame, path: str, single_file: bool = True,
    stringency: str = "LENIENT",
) -> None:
    """Variant contexts → VCF text files (see ``_render_vcf``).

    ``stringency``: ``"STRICT"`` raises on malformed per-genotype
    fields the lenient renderer would silently skip (currently: a
    non-empty strandBiasComponents array that is not 4 entries —
    VariantContextConverterSuite.scala:274's strict arm); the LENIENT
    default keeps the htsjdk-lenient behavior the byte goldens pin."""
    header, body = _render_vcf(gf, stringency=stringency)
    from adam_spark.sources.merge import local_lines_df, write_text_single_file

    if single_file:
        # render DISTRIBUTED (one shard per partition, frame order is
        # the partition order — no shuffle, no sort key needed), then
        # FileMerger-concat with the header prepended (the reference's
        # -single shape, util/FileMerger.scala:35)
        write_text_single_file(body, path, header_lines=header)
        return
    hdr_df = local_lines_df(
        body.sparkSession,
        [(0, i, h) for i, h in enumerate(header)],
        "__o int, __k2 long, value string",
    )
    out = hdr_df.unionByName(body)
    # orderBy samples the input to pick range bounds, which would
    # render every line twice — persist the rendered lines so the
    # sampling pass and the write both read the cache (A/B in
    # MEASURED.md round-9: 73.9 → 33.9 s at 204k rows)
    from pyspark import StorageLevel

    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out.orderBy("__o", "__k2").select("value").write.text(path)
    finally:
        out.unpersist()


# --- tabix-indexed path ----------------------------------------------------
def _text_line(line: str):
    """VCF text line → (bytes, tabix span keyed by contig name) for
    :func:`bgzf.save_sharded`; header lines carry no span."""
    rec = line.encode() + b"\n"
    if not line or line.startswith("#"):
        return rec, None
    f = line.split("\t", 5)
    beg = int(f[1]) - 1
    return rec, (f[0], beg, beg + len(f[3]))


def save_vcf_bgzf(gf: GenomicFrame, path: str, fs=None) -> dict:
    """Variant contexts → bgzipped VCF + tabix index (``path.tbi``;
    tabix-over-CSI ``path.csi`` past 2^29), via
    :func:`bgzf.save_sharded` with ZERO shuffles: the one-partition
    header DataFrame unions AHEAD of the body, so the union's partition
    list is [header, body partitions...] in frame order and each task
    compresses its own partition in a single pass (no sort exchange, no
    sampling double-render, no persist). Contigs are numbered in order
    of first appearance. Reference consumer:
    ADAMContext.loadIndexedVcf:2760-2776."""
    from adam_spark.sources.merge import local_lines_df

    header, body = _render_vcf(gf)
    hdr_df = local_lines_df(
        body.sparkSession,
        [(0, i, h) for i, h in enumerate(header)],
        "__o int, __k2 long, value string",
    )
    return bgzf.save_sharded(
        hdr_df.unionByName(body), path, _text_line, index="tbi", fs=fs
    )


def _region_overlap(regions: list[tuple[str, int, int]]) -> Column:
    """Exact overlap of VCF body lines with ``regions`` on (CHROM,
    POS-1, POS-1+len(REF)) — the per-record filter after an index's
    coarse bin prefilter."""
    t = F.split(F.col("value"), "\t")
    ref_c = F.try_element_at(t, F.lit(1))
    beg_c = F.try_element_at(t, F.lit(2)).try_cast("long") - 1
    end_c = beg_c + F.length(F.try_element_at(t, F.lit(4)))
    pred = F.lit(False)
    for rname, beg, end in regions:
        pred = pred | (
            (ref_c == F.lit(rname)) & (beg_c < F.lit(end)) & (end_c > F.lit(beg))
        )
    return pred


def load_indexed_vcf(
    spark: SparkSession, path: str, regions: list[tuple[str, int, int]]
) -> GenomicFrame:
    """Region-restricted VCF load via the tabix index
    (ADAMContext.loadIndexedVcf:2760-2776): only the .tbi-addressed
    BGZF chunks overlapping the query regions are read and decoded —
    I/O scales with the overlap fraction, not the file. Records are
    exact: the coarse bin prefilter is followed by a per-record overlap
    predicate."""
    import gzip

    from adam_spark.sources.binned_index import read_csi, read_tbi

    path = os.path.abspath(path)
    if os.path.exists(path + ".tbi"):
        idx = read_tbi(path + ".tbi")
    else:
        # tabix-over-CSI sidecar (long-contig fallback; names ride in
        # the aux block)
        idx = read_csi(path + ".csi")
    header: list[str] = []
    with gzip.open(path, "rt") as f:  # streams only the header blocks
        for line in f:
            if not line.startswith("#"):
                break
            header.append(line.rstrip("\n"))
    header_lines, refs, sample_names = _header_from_lines(header)

    def _lines(chunk):
        for ln in chunk.split(b"\n"):
            if ln and not ln.startswith(b"#"):
                yield ln.decode()

    body = bgzf.indexed_lines(
        spark, path, idx, {n: i for i, n in enumerate(idx.names)}, regions, _lines
    )
    return vcf_lines_to_contexts(
        body.where(_region_overlap(regions)),
        mix_header_lines(header_lines), refs, sample_names,
    )
