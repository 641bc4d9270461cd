"""Row filters / projections (SURVEY.md §2.2).

All are single Catalyst expressions — they stay inside
WholeStageCodegen and push down to the Parquet scan, so at 100 TB the
scan itself skips row groups via min/max stats. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_not_chrm(df: DataFrame, chrom_col: str = "rname", chrom: str = "chrM") -> DataFrame:
    """Drop alignments on one chromosome (reference tools.py:243,
    ``grep -v chrM``). The reference greps whole SAM lines; the engine
    filters on the RNAME column — the semantic intent — which lets the
    predicate reach the parquet scan."""
    return df.filter(F.col(chrom_col) != chrom)


def filter_tlen_range(df: DataFrame, tlen_col: str = "tlen", lo: int = -100, hi: int = 100) -> DataFrame:
    """ATAC sub-nucleosomal fragment filter: TLEN strictly in (lo, hi)
    (reference tools.py:244-245 awk). SAM header lines are schema, not
    rows, in a DataFrame — no `$1 ~ /^@/` branch needed."""
    return df.filter((F.col(tlen_col) > lo) & (F.col(tlen_col) < hi))


def filter_mapped_flag(df: DataFrame, flag_col: str = "flag", bit: int = 4) -> DataFrame:
    """Exclude reads with a FLAG bit set — bit 4 = unmapped
    (reference tools.py:246, ``samtools view -F4``)."""
    return df.filter(F.col(flag_col).bitwiseAND(bit) == 0)


def count_flag_set(df: DataFrame, flag_col: str = "flag", bit: int = 1) -> DataFrame:
    """Count reads with a FLAG bit set — bit 1 = paired; feeds the
    BAM-vs-BAMPE auto-detect conditional (reference tools.py:580-586,
    ``samtools view -c -f 1``). Returns a 1-row DataFrame so the count
    composes into plans without a driver-side action."""
    return df.filter(F.col(flag_col).bitwiseAND(bit) != 0).agg(F.count("*").alias("n_set"))


def project_tlen(df: DataFrame, cols: tuple[str, ...] = ("tlen",)) -> DataFrame:
    """Column projection (reference tools.py:249-250, awk ``{print $9}``).
    Catalyst prunes the parquet ReadSchema down to these columns."""
    return df.select(*cols)


def filter_name_regex(df: DataFrame, col: str, pattern: str = r"^[0-9].*\.txt$") -> DataFrame:
    """Keep rows whose name matches a regex (reference scanner.sh:5,
    ``grep -E '^[0-9].*.txt$'`` over job filenames)."""
    return df.filter(F.col(col).rlike(pattern))


def nonempty_check(df: DataFrame) -> DataFrame:
    """Non-emptiness guard before a stage (reference tools.py:116 etc.,
    ``os.stat(f)[ST_SIZE]`` asserts). 1-row boolean DataFrame."""
    return df.agg((F.count("*") > 0).alias("nonempty"))


def filter_whitelist(df: DataFrame, col: str, allowed: list[str], casefold: bool = True) -> DataFrame:
    """Application whitelist (reference pipelineParser.py:90-92:
    application ∉ {rna-seq, gdna-seq, chip/clip-seq, atac-seq} → reject)."""
    c: Column = F.lower(F.col(col)) if casefold else F.col(col)
    return df.filter(c.isin([a.lower() if casefold else a for a in allowed]))


def filter_arity(df: DataFrame, arr_col: str, max_parts: int = 2) -> DataFrame:
    """Reject malformed multi-part inputs: arrays with more than
    `max_parts` elements (reference mainScript.py:234-253 — ≥3
    comma-parts in a PE spec is malformed)."""
    return df.filter(F.size(F.col(arr_col)) <= max_parts)
