"""Annotation explode + severity ranking (SURVEY.md §2A A6/A7).

Reimplements the geneimpacts pipeline the reference delegates to
[U vcf2db.py §gene_info ~L680; geneimpacts Effect.top_severity]: the VEP
``CSQ`` (or SnpEff ``ANN``) INFO string is a comma-separated list of
transcript annotations, each a ``|``-separated record whose keys come from
the header Description — split → explode → struct for
``variant_impacts``, and a per-row argmax over the same records picks the
top-severity impact to denormalize into ``variants``.

Severity order is the published Ensembl VEP consequence ranking collapsed
to gemini's HIGH/MED/LOW, ties broken by transcript id (lowest first) —
deterministic, unit-tested against a golden table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vcf2db_spark.sources.header import VCFHeader, clean

# Ensembl VEP consequence severity order (most → least severe), public table.
SEVERITY_ORDER: tuple[str, ...] = (
    "transcript_ablation",
    "splice_acceptor_variant",
    "splice_donor_variant",
    "stop_gained",
    "frameshift_variant",
    "stop_lost",
    "start_lost",
    "transcript_amplification",
    "feature_elongation",
    "feature_truncation",
    "inframe_insertion",
    "inframe_deletion",
    "missense_variant",
    "protein_altering_variant",
    "splice_donor_5th_base_variant",
    "splice_region_variant",
    "splice_donor_region_variant",
    "splice_polypyrimidine_tract_variant",
    "incomplete_terminal_codon_variant",
    "start_retained_variant",
    "stop_retained_variant",
    "synonymous_variant",
    "coding_sequence_variant",
    "mature_mirna_variant",
    "5_prime_utr_variant",
    "3_prime_utr_variant",
    "non_coding_transcript_exon_variant",
    "intron_variant",
    "nmd_transcript_variant",
    "non_coding_transcript_variant",
    "coding_transcript_variant",
    "upstream_gene_variant",
    "downstream_gene_variant",
    "tfbs_ablation",
    "tfbs_amplification",
    "tf_binding_site_variant",
    "regulatory_region_ablation",
    "regulatory_region_amplification",
    "regulatory_region_variant",
    "intergenic_variant",
    "sequence_variant",
)

RANK: dict[str, int] = {so: i for i, so in enumerate(SEVERITY_ORDER)}
_UNKNOWN_RANK = len(SEVERITY_ORDER)

# gemini-style 3-level severity: VEP HIGH → HIGH, MODERATE → MED, else LOW.
_HIGH_MAX = SEVERITY_ORDER.index("feature_truncation")
_MED_MAX = SEVERITY_ORDER.index("protein_altering_variant")

LOF_SO = {
    "transcript_ablation",
    "splice_acceptor_variant",
    "splice_donor_variant",
    "stop_gained",
    "frameshift_variant",
    "stop_lost",
    "start_lost",
}
EXONIC_SO = {
    "stop_gained", "frameshift_variant", "stop_lost", "start_lost",
    "inframe_insertion", "inframe_deletion", "missense_variant",
    "protein_altering_variant", "incomplete_terminal_codon_variant",
    "start_retained_variant", "stop_retained_variant", "synonymous_variant",
    "coding_sequence_variant", "5_prime_utr_variant", "3_prime_utr_variant",
    "non_coding_transcript_exon_variant",
}
CODING_SO = EXONIC_SO - {
    "5_prime_utr_variant", "3_prime_utr_variant", "non_coding_transcript_exon_variant",
}


def severity_category(rank_idx: int) -> str:
    if rank_idx <= _HIGH_MAX:
        return "HIGH"
    if rank_idx <= _MED_MAX:
        return "MED"
    return "LOW"


def _rank_map_expr():
    pairs = []
    for so, i in RANK.items():
        pairs.extend([F.lit(so), F.lit(i)])
    return F.create_map(*pairs)


# canonical column ← VEP subfield candidates (first present wins)
_CANON = {
    "gene": ("symbol", "gene"),
    "transcript": ("feature", "transcript"),
    "biotype": ("biotype",),
    "exon": ("exon",),
    "codon_change": ("codons",),
    "aa_change": ("amino_acids",),
    "aa_length": ("protein_position",),
}


def _annotation_records(df: DataFrame, ann_col: str) -> Column:
    """The annotation column as one token array per transcript record
    (VEP comma-joins the records and ``|``-joins each record's fields; a
    typed array column is already split into records)."""
    if dict(df.dtypes).get(ann_col, "string").startswith("array"):
        items = F.col(ann_col)
    else:
        items = F.split(F.col(ann_col), ",")
    return F.transform(items, lambda a: F.split(a, r"\|"))


def _impact_columns(toks: Column, subfields: list[str]) -> dict[str, Column]:
    """Every ``variant_impacts`` column of ONE annotation record, given as
    its token array ``toks``, in table order. The explode and the per-row
    top-impact pick both build their columns here, so the two can never
    disagree."""
    cols = {name: F.nullif(toks.getItem(i), F.lit("")) for i, name in enumerate(subfields)}

    # a VEP Consequence may be '&'-joined; severity = the most severe member
    so_terms = F.split(F.lower(cols["consequence"]), "&")
    rank_map = _rank_map_expr()
    rank = F.array_min(
        F.transform(so_terms, lambda s: F.coalesce(rank_map[s], F.lit(_UNKNOWN_RANK)))
    )
    cols.update({"impact_so": F.element_at(so_terms, 1), "severity_rank": rank})

    names = set(cols)
    for target, candidates in _CANON.items():
        present = [cols[c] for c in candidates if c in names]
        if present and target not in names:
            cols[target] = F.coalesce(*present)
    cols.update(
        {
            "impact_severity": F.when(rank <= _HIGH_MAX, "HIGH")
            .when(rank <= _MED_MAX, "MED")
            .otherwise("LOW"),
            "is_lof": F.arrays_overlap(so_terms, F.array(*map(F.lit, sorted(LOF_SO)))),
            "is_exonic": F.arrays_overlap(so_terms, F.array(*map(F.lit, sorted(EXONIC_SO)))),
            "is_coding": F.arrays_overlap(so_terms, F.array(*map(F.lit, sorted(CODING_SO)))),
        }
    )

    # polyphen/sift arrive as 'probably_damaging(0.957)' → pred + score
    for tool in ("polyphen", "sift"):
        if tool in names:
            cols[f"{tool}_pred"] = F.nullif(
                F.regexp_extract(cols[tool], r"^([^(]+)", 1), F.lit("")
            )
            cols[f"{tool}_score"] = F.regexp_extract(
                cols[tool], r"\(([\d.]+)\)", 1
            ).cast("double")
    return cols


def explode_impacts(
    df: DataFrame,
    header: VCFHeader,
    id_col: str = "variant_id",
) -> DataFrame:
    """One row per (variant, transcript annotation) — the
    ``variant_impacts`` table. split + explode + projection; a narrow op
    (no shuffle)."""
    key = header.annotation_key
    if key is None:
        raise ValueError("no annotation INFO field (CSQ/ANN/EFF/BCSQ) in header")
    ann_col = clean(key)
    subfields = [clean(s) for s in header.annotation_subfields]
    out = df.filter(F.col(ann_col).isNotNull()).select(
        id_col, F.explode(_annotation_records(df, ann_col)).alias("_toks")
    )
    cols = _impact_columns(F.col("_toks"), subfields)
    return out.select(id_col, *[c.alias(name) for name, c in cols.items()])


def top_impacts(impacts: DataFrame, id_col: str = "variant_id") -> DataFrame:
    """Argmax per variant over the exploded table: most severe impact,
    ties → lowest transcript — ``min(struct(rank, transcript, ...))`` in
    one partial-aggregated shuffle (geneimpacts Effect.top_severity
    semantics). The load uses the per-row ``with_top_impact``; this
    groupBy form is its reference in the tests."""
    payload = [c for c in impacts.columns if c != id_col]
    best = F.min(
        F.struct(
            F.col("severity_rank").alias("_r"),
            F.coalesce(F.col("transcript"), F.lit("~")).alias("_t"),
            *[F.col(c).alias(c) for c in payload],
        )
    ).alias("_best")
    agg = impacts.groupBy(id_col).agg(best)
    return agg.select(id_col, *[F.col(f"_best.{c}").alias(c) for c in payload])


def with_top_impact(
    variants: DataFrame,
    header: VCFHeader,
    columns: tuple[str, ...] = (
        "gene", "transcript", "is_exonic", "is_coding", "is_lof", "exon",
        "codon_change", "aa_change", "aa_length", "biotype", "impact_so",
        "impact_severity", "polyphen_pred", "polyphen_score", "sift_pred",
        "sift_score",
    ),
) -> DataFrame:
    """Denormalize the top impact onto variants, in place of the raw
    annotation column.

    Per row, no shuffle: ``array_min`` over one
    ``struct(rank, coalesce(transcript, '~'), <impact columns>)`` per
    annotation record picks the same record as ``top_impacts``'s
    ``min(struct)`` over the exploded table — the same struct, so the same
    order, ties included. An unannotated variant (NULL column) or one with
    no records keeps NULL impact columns, as the reference's does."""
    ann_col = clean(header.annotation_key)
    subfields = [clean(s) for s in header.annotation_subfields]

    def ranked(toks: Column) -> Column:
        cols = _impact_columns(toks, subfields)
        return F.struct(
            cols["severity_rank"].alias("_r"),
            F.coalesce(cols["transcript"], F.lit("~")).alias("_t"),
            *[c.alias(name) for name, c in cols.items()],
        )

    top = F.array_min(F.transform(_annotation_records(variants, ann_col), ranked))
    impact_names = _impact_columns(F.col(ann_col), subfields).keys()
    keep = [c for c in columns if c in impact_names]
    rest = [c for c in variants.columns if c != ann_col]
    # two projections: the array_min runs once per row, not once per field
    return variants.withColumn("_top", top).select(
        *rest, *[F.col("_top")[c].alias(c) for c in keep]
    )
