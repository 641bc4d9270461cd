"""Scalar functions (SURVEY.md §2.8) — string / date / math / array.

Every function returns a Column built purely from
``pyspark.sql.functions`` (JVM-side, codegen'd). The single op Spark
has no builtin for — longest-common-prefix pair keys — is expressed
with higher-order functions (`filter` over `sequence`), still no
Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FASTQ_SUFFIX_RE = r"\.f(ast)?q(\.tar)?(\.gz)?$"


def strip_fastq_suffix(name: Column) -> Column:
    """Sample key from a fastq filename (reference mainScript.py:235:
    ``re.sub('.f[ast]*q[.tar]*.gz$','',name)``)."""
    return F.regexp_replace(name, FASTQ_SUFFIX_RE, "")


def common_prefix(a: Column, b: Column) -> Column:
    """Longest common prefix of two strings — the deterministic core of
    the reference's SequenceMatcher first-block pair key
    (mainScript.py:241-243; for mate filenames the first matching block
    is the shared prefix). Higher-order functions, no UDF: prefix
    equality is monotone, so count of i with a[:i]==b[:i] = LCP len."""
    n = F.least(F.length(a), F.length(b))
    matches = F.filter(
        F.sequence(F.lit(1), n.cast("int")),
        lambda i: a.substr(F.lit(1), i) == b.substr(F.lit(1), i),
    )
    return a.substr(F.lit(1), F.size(matches))


def pair_key(a: Column, b: Column) -> Column:
    """PE directory name: common block of the two mate names with a
    trailing ``_R`` replaced by ``_paired`` (reference
    mainScript.py:241-243)."""
    return F.regexp_replace(common_prefix(a, b), "_R$", "_paired")


def username_from_email(email: Column) -> Column:
    """Local part of an address (reference parserTools.py:71)."""
    return F.element_at(F.split(email, "@"), 1)


def basename(path: Column) -> Column:
    """Last path component (reference parserTools.py:51, tools.py:428)."""
    return F.element_at(F.split(path, "/"), -1)


def csv_join(arr: Column) -> Column:
    """Comma-join an array (reference parserTools.py:52). The engine
    keeps ArrayType internally; this is the edge serialization."""
    return F.array_join(arr, ",")


def csv_split(s: Column) -> Column:
    """Split a comma-joined list (reference pipelineParser.py:117)."""
    return F.split(s, ",")


def key_concat(*parts: Column, sep: str = "_") -> Column:
    """Composite routing key (reference pipelineParser.py:94-100:
    '_'.join + case-folds + '/'→'_' + strip('_'))."""
    cleaned = [F.regexp_replace(p, "/", "_") for p in parts]
    return F.regexp_replace(F.concat_ws(sep, *cleaned), f"^{sep}+|{sep}+$", "")


def mate_number_sra(read_id: Column) -> Column:
    """SRA mate number: suffix after last '.' (reference tools.py:754-755)."""
    return F.element_at(F.split(read_id, r"\."), -1).cast("int")


def abs_int(s: Column) -> Column:
    """``abs(int(x))`` with truncation-toward-zero (reference
    tools.py:295-296 on TLEN strings)."""
    return F.abs(s.cast("double").cast("long"))


def format_fixed6(x: Column) -> Column:
    """Six-decimal fixed formatting (reference tools.py:309,
    ``'{0:.6f}'.format``). format_string = C printf, no thousand
    separators (unlike format_number). NULL in → NULL out, the
    engine-wide scalar contract: Spark's format_string would render a
    NULL argument as the literal string 'null' (DuckDB printf yields
    NULL), and the reference's ``.format`` raises on None — neither
    wants a 'null' string in a data column (dirty-parity r11)."""
    return F.when(x.isNotNull(), F.format_string("%.6f", x))


def date_stamp_iso(ts: Column) -> Column:
    """`date +%Y-%m-%d` (reference scanner.sh:8)."""
    return F.date_format(ts, "yyyy-MM-dd")


def date_stamp_dmy(ts: Column) -> Column:
    """`strftime('%d-%b-%Y')` (reference pipelineParser.py:27)."""
    return F.date_format(ts, "dd-MMM-yyyy")


def elapsed_hours(t1: Column, t2: Column) -> Column:
    """``round((t2-t1)/3600, 2)`` (reference mainScript.py:366-369);
    second-precision like the reference's time.time() ints."""
    sec = F.unix_timestamp(t2) - F.unix_timestamp(t1)
    return F.round(sec / 3600.0, 2)


def octal_mode_parse(s: Column) -> Column:
    """Parse an octal mode string to decimal int (reference
    tools.py:838-840: regex-extract after 'expected mode ', int(m, 8))."""
    return F.conv(F.regexp_extract(s, r"(\d+)", 1), 8, 10).cast("long")


def chr_decode(ints: Column) -> Column:
    """Int list → string via chr() (reference parserTools.py:377-384)."""
    return F.array_join(F.transform(ints, lambda i: F.char(i)), "")


def reversed_join(arr: Column, sep: str = " ") -> Column:
    """Join array elements in reverse (reference pipelineParser.py:87-88:
    ' '.join(reversed(contact)) — last-name-first → first-last)."""
    return F.array_join(F.reverse(arr), sep)


def sci_notation_num(s: Column) -> Column:
    """Scientific-notation string → double (reference mainChIP.py:150-151
    genome sizes '2.7e+9'). try_cast, not cast: under ANSI a single
    malformed string (e.g. the 'nue+9' that format_string emits for a
    NULL argument) would kill the whole job mid-task; NULL-on-malformed
    is DuckDB TRY_CAST's contract and the right behavior on crawl
    data."""
    return s.try_cast("double")


_URL_PREFIX_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?]*)"
# \z, not $: Java regex `$` also matches BEFORE a final line terminator,
# so a crawl param like 'ref\n' would be dropped here but kept by an
# RE2/DuckDB oracle whose `$` is end-of-string only. \z is end-of-input
# in Java — the exact RE2-`$` semantics (ADVICE r10).
_URL_TRACKING_RE = r"^(utm_[^=]*|fbclid|gclid|ref)(=|\z)"


def url_normalize(u: Column) -> Column:
    """Canonicalize an absolute http(s) URL — the key a crawl-corpus
    URL dedup actually groups on (raw crawl URLs differ in case,
    fragments, tracking params, and param order while naming one
    resource):

    1. fragment stripped;
    2. scheme://host lowercased, default ports :80/:443 dropped;
    3. trailing slashes stripped from the path;
    4. query params split, tracking params (utm_*, fbclid, gclid,
       ref — with or without a value, so a bare `fbclid` flag is
       dropped too) and empties dropped, the rest SORTED and
       rejoined. Note `ref=...` is treated as tracking wholesale;
       sites using a legitimate `ref` param lose it — the same
       trade common crawl-dedup canonicalizers make.

    Pure codegen string ops (regexp + array sort), identical
    semantics in DuckDB (regexp_replace needs its 'g' flag there;
    list_sort/list_filter mirror array_sort/filter). NULL in → NULL
    out, both engines."""
    base = F.regexp_replace(u, "#.*", "")
    pre = F.regexp_replace(base, r"\?.*", "")
    query = F.regexp_extract(base, r"\?(.*)", 1)
    prefix = F.regexp_extract(pre, _URL_PREFIX_RE, 1)
    path = F.regexp_replace(
        pre.substr(F.length(prefix) + F.lit(1), F.length(pre)), "/+$", ""
    )
    norm_prefix = F.regexp_replace(F.lower(prefix), ":(80|443)$", "")
    clean_q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != F.lit("")) & (~p.rlike(_URL_TRACKING_RE)),
            )
        ),
        "&",
    )
    return F.concat(
        norm_prefix,
        path,
        F.when(clean_q != "", F.concat(F.lit("?"), clean_q)).otherwise(F.lit("")),
    )


def url_path(u: Column) -> Column:
    """Path component of an absolute URL (after host, before ?/#),
    trailing-slash-stripped like url_normalize — the string a robots
    disallow prefix matches against. '' for host-only URLs; NULL in →
    NULL out."""
    base = F.regexp_replace(u, "[?#].*", "")
    prefix = F.regexp_extract(base, _URL_PREFIX_RE, 1)
    return F.regexp_replace(
        base.substr(F.length(prefix) + F.lit(1), F.length(base)), "/+$", ""
    )


def url_domain(u: Column) -> Column:
    """Registered-host extraction (lowercased, port and leading www.
    dropped) — the grouping key of per-site corpus policy (robots
    budgets, license tiers, domain mix reports)."""
    return F.regexp_extract(
        F.lower(u), r"^[a-z][a-z0-9+.\-]*://(www\.)?([^/:?#]*)", 2
    )
