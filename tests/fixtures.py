"""Deterministic in-memory domain fixtures (FIXTURES.md): genomic
shapes the star schema can't exercise — SAM bitflags, interval ±1
edges, chrM, suffix-regex corpus, abs(TLEN) at 0."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from seqdatapipeline_spark.schemas import ALIGNMENT, FEATURE


def alignments(spark: SparkSession) -> DataFrame:
    # (qname, flag, rname, pos, mapq, tlen)
    rows = [
        ("r1", 0, "chr1", 100, 60, 150),     # mapped, unpaired
        ("r2", 1, "chr1", 100, 60, -150),    # paired bit set; dup coords of r1 w/ flag diff
        ("r3", 4, "chr1", 200, 0, 0),        # unmapped bit set → filtered by -F4
        ("r4", 5, "chr2", 300, 30, 99),      # paired+unmapped
        ("r5", 1, "chrM", 400, 60, 100),     # chrM → filtered by not_chrm; tlen==100 excluded by band
        ("r6", 0, "chr2", 300, 30, -100),    # tlen==-100 excluded (strict)
        ("r7", 0, "chr2", 301, 30, -99),     # inside band
        ("r8", 0, "chr1", 100, 60, 150),     # exact dup of r1 coords+flag → dedup collapses
        ("r9", 1, "chr1", 500, 60, 0),       # abs(tlen)=0 histogram edge
        ("r10", 0, "chr1", 1000, 60, 25),    # feature edge: pos == start
        ("r11", 0, "chr1", 2000, 60, 25),    # feature edge: pos == end
        ("r12", 0, "chr1", 999, 60, 25),     # start-1 → outside
        ("r13", 0, "chr1", 2001, 60, 25),    # end+1 → outside
    ]
    return spark.createDataFrame(rows, ALIGNMENT)


def features(spark: SparkSession) -> DataFrame:
    rows = [
        ("chr1", "exon", 1000, 2000, "+", {"gene_id": "gA", "gene_name": "alpha"}),
        ("chr1", "exon", 2000, 2500, "-", {"gene_id": "gB", "gene_name": "beta"}),   # touching
        ("chr1", "exon", 1200, 1300, "+", {"gene_id": "gC", "gene_name": "gamma"}),  # nested in gA
        ("chr2", "exon", 250, 350, "+", {"gene_id": "gD", "gene_name": "delta"}),
        ("chr3", "exon", 1, 100, "+", {"gene_id": "gE", "gene_name": "eps"}),        # chrom w/o reads
        ("chr1", "gene", 900, 2600, "+", {"gene_id": "gA", "gene_name": "alpha"}),   # non-exon
    ]
    return spark.createDataFrame(rows, FEATURE)


FASTQ_NAMES = [
    ("s1.fastq.gz", "s1"),
    ("s2.fq.gz", "s2"),
    ("s3.fastq.tar.gz", "s3"),
    ("s4.fastq", "s4"),
    ("s5.fq", "s5"),
    ("noext", "noext"),
]
