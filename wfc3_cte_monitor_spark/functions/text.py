"""Text-analysis expression toolkit (additive LLM-data-pipeline surface).

Everything here is a PAIRED construction: a Spark Column expression and a
DuckDB SQL fragment computing the identical value, so the dedup/text
queries are fully oracle-checkable. The only primitive shared between the
engines is md5 — both produce the same hex string, and both can parse a
15-hex-digit prefix into a BIGINT — which gives a portable 60-bit hash
that MinHash/SimHash build on (no engine-private hash functions).

All expressions are built-in-function compositions (split / transform /
aggregate / bitwise) — JVM-side, codegen-friendly, no Python UDFs — so
they hold up on a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- normalization & tokens -------------------------------------------------

def norm_text(col: str | Column) -> Column:
    """lower + strip non-alphanumerics + trim."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), "[^a-z0-9 ]", ""))


def norm_text_sql(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9 ]', '', 'g'))"


def tokens(col: str | Column) -> Column:
    return F.split(norm_text(col), r"\s+")


def tokens_sql(col: str) -> str:
    return f"string_split_regex({norm_text_sql(col)}, '\\s+')"


def shingles(col: str | Column, k: int = 3) -> Column:
    """Word k-gram shingles (distinct), [] when fewer than k tokens.

    Built from k aligned slices zipped together, NOT a
    ``transform(sequence(...), i -> slice(t, i, k))`` lambda: a lambda
    that closes over the token expression makes Spark re-evaluate the
    whole split+regexp chain per element — O(tokens²) regexp work per
    document (measured 11.7s for 5k docs at sf0.1; this form is <1s)."""
    t = tokens(col)
    n = F.size(t)
    win = n - (k - 1)
    zipped = F.arrays_zip(*[F.slice(t, j + 1, win) for j in range(k)])
    make = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    return F.array_distinct(F.when(n >= k, make).otherwise(F.array()))


def shingles_sql(col: str, k: int = 3) -> str:
    t = tokens_sql(col)
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return (
        f"list_distinct(CASE WHEN len(t) >= {k} THEN "
        f"list_transform(range(1, len(t) - {k - 2}), i -> {joined}) "
        f"ELSE [] END) FROM (SELECT {t} AS t)"
    )


def shingles_sql_inline(col: str, k: int = 3) -> str:
    """Same as shingles_sql but as a pure expression (t inlined)."""
    t = tokens_sql(col)
    joined = " || ' ' || ".join(f"({t})[i + {j}]" for j in range(k))
    return (
        f"list_distinct(CASE WHEN len({t}) >= {k} THEN "
        f"list_transform(range(1, len({t}) - {k - 2}), i -> {joined}) "
        f"ELSE [] END)"
    )


def exploded_shingles(df, id_col: str | list[str], text_col: str, k: int = 3):
    """(id, shingle) rows — distinct word k-gram shingles per id.
    ``id_col`` may list extra columns that are functions of the id;
    they ride along on every shingle row.

    The hot-path form for dedup pipelines: ``posexplode(tokens)`` (the
    generator evaluates the split+regexp chain ONCE per row) then a
    window ``lead`` builds k-grams — all whole-stage-codegen operators.
    The array-valued :func:`shingles` keeps lambda form for array use,
    but higher-order functions run interpreted and re-evaluate their
    argument per element — measured ~6ms/row on 60-token docs vs ~0.1ms
    for this formulation.

    One shuffle (window by id); at 100 TB the same partitioning carries
    into the downstream per-id aggregation.
    """
    from pyspark.sql import Window

    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    ex = df.select(*keys, F.posexplode(tokens(text_col)).alias("_pos", "_tok"))
    w = Window.partitionBy(keys[0]).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, k)]
    sh = ex.select(*keys, F.concat_ws(" ", *parts).alias("shingle"), F.lead("_tok", k - 1).over(w).alias("_last"))
    return sh.where(F.col("_last").isNotNull()).select(*keys, "shingle").distinct()


# --- portable 60-bit hash ----------------------------------------------------

def portable_hash64(col: str | Column) -> Column:
    """md5-prefix hash: identical in Spark and DuckDB (60 bits, positive)."""
    return F.conv(F.substring(F.md5(_c(col).cast("string")), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(col: str) -> str:
    return f"CAST(CONCAT('0x', substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT)"


# --- rolling-hash document fingerprinting (Rabin-Karp + winnowing) -----------
#
# Token k-gram hash by the Rabin-Karp polynomial (Horner with a mod per
# step so every intermediate stays < 2^52 — exact in int64 on both
# engines), then MOSS-style winnowing: the min hash of each window of w
# consecutive k-gram hashes, deduplicated, is the document's fingerprint
# set. Two documents sharing a long-enough token run share fingerprints
# regardless of where the run sits — the overlap-detection primitive a
# whole-document hash can't provide. Emitted as (count, sum) reductions
# so the driver value-checks the selected set without hauling it.

ROLL_B = 1_000_003
ROLL_M = 2_147_483_647  # 2^31 - 1
WINNOW_K = 3
WINNOW_W = 4


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_winnow_fp, winnow_fp_sum) — the winnowed fingerprint set,
    reduced. Codegen path: posexplode + window ``lead`` for the k-gram
    polynomial and a bounded ROWS frame for the window min (the same
    shape as exploded_shingles). The array-lambda formulation is a trap
    here: nested ``transform`` closures re-evaluate the md5-per-token
    array per element access — measured runaway (minutes at sf0.1)
    versus seconds for this plan. One shuffle on the id, reused by the
    window and the final groupBy. Docs with fewer than k tokens emit no
    row — callers left-join and coalesce to 0, matching the SQL twin."""
    from pyspark.sql import Window

    ex = df.select(id_col, F.posexplode(tokens(text_col)).alias("_pos", "_tok"))
    hashed = ex.select(id_col, "_pos", (portable_hash64("_tok") % ROLL_M).alias("_h"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    h1, h2 = F.lead("_h", 1).over(w), F.lead("_h", 2).over(w)
    kh_tbl = (
        hashed.select(
            id_col,
            "_pos",
            (((F.col("_h") * ROLL_B + h1) % ROLL_M) * ROLL_B + h2).alias("_kraw"),
            h2.alias("_ok"),
        )
        .where(F.col("_ok").isNotNull())
        .select(id_col, "_pos", (F.col("_kraw") % ROLL_M).alias("_kh"))
    )
    kw = Window.partitionBy(id_col).orderBy("_pos")
    winmin = F.min("_kh").over(kw.rowsBetween(0, WINNOW_W - 1))
    rn = F.row_number().over(kw) - 1
    m = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    wins = (
        kh_tbl.select(id_col, winmin.alias("_fp"), rn.alias("_rn"), m.alias("_m"))
        # full windows only; a short doc (m < w) keeps its single
        # truncated leading window — the global min
        .where((F.col("_rn") <= F.col("_m") - WINNOW_W) | ((F.col("_m") < WINNOW_W) & (F.col("_rn") == 0)))
        .select(id_col, "_fp")
        .distinct()
    )
    return wins.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_winnow_fp"),
        F.sum("_fp").cast("bigint").alias("winnow_fp_sum"),
    )


def winnow_fp_sql_list(col: str) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (1-based list
    indexing): a single list-valued scalar subquery producing the
    winnowed fingerprint set. Callers project it ONCE into a subquery
    column and reduce (len / list_sum) in the outer select — embedding
    it per reduction would re-run the whole tokenize+hash+winnow
    pipeline per use."""
    h = portable_hash64_sql("t")
    hs = f"list_transform({tokens_sql(col)}, t -> ({h}) % {ROLL_M})"
    kg = (
        f"list_transform(range(0, len(hs) - {WINNOW_K - 1}), p -> "
        f"(((hs[p + 1] * {ROLL_B} + hs[p + 2]) % {ROLL_M}) * {ROLL_B} + hs[p + 3]) % {ROLL_M})"
    )
    return f"""(
        SELECT CASE WHEN m >= {WINNOW_W}
                    THEN list_distinct(list_transform(range(0, m - {WINNOW_W} + 1), p ->
                         list_min(list_transform(range(0, {WINNOW_W}), j -> kh[p + j + 1]))))
                    WHEN m >= 1 THEN [list_min(kh)]
                    ELSE [] END
        FROM (SELECT kh, len(kh) AS m
              FROM (SELECT {kg} AS kh FROM (SELECT {hs} AS hs)))
    )"""


# --- text statistics ----------------------------------------------------------

def token_count(col: str | Column) -> Column:
    t = tokens(col)
    return F.when(F.length(norm_text(col)) == 0, 0).otherwise(F.size(t)).cast("bigint")


def token_count_sql(col: str) -> str:
    return (
        f"CAST(CASE WHEN length({norm_text_sql(col)}) = 0 THEN 0 "
        f"ELSE len({tokens_sql(col)}) END AS BIGINT)"
    )


# BPE-ish pre-tokenizer: the GPT-2-style first split — runs of letters,
# runs of digits, and runs of other symbols, each absorbing one leading
# space — restricted to constructs Java regex and RE2 evaluate
# identically (alternation is ordered in both; no lookahead, which RE2
# lacks; whitespace spelled as an EXPLICIT ASCII class because Java's
# \s includes \x0B where RE2's does not). Token COUNT under this split
# approximates BPE token count far better than whitespace (punctuation
# and digit runs become their own tokens, as they do in real BPE
# vocabularies). Like the rest of this module, engine parity is over
# ASCII case folds — lower() itself diverges between engines on locale
# case-folds such as U+0130.
BPE_SPLIT_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \t\n\x0B\f\r]+"


def bpe_token_count(col: str | Column) -> Column:
    return F.regexp_count(F.lower(_c(col)), F.lit(BPE_SPLIT_PATTERN)).cast("bigint")


def bpe_token_count_sql(col: str) -> str:
    return (
        f"CAST(len(regexp_extract_all(lower({col}), '{BPE_SPLIT_PATTERN}')) AS BIGINT)"
    )


def punct_ratio(col: str | Column) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ]."""
    c = _c(col)
    stripped = F.regexp_replace(c, "[a-zA-Z0-9 ]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(0.0)


def punct_ratio_sql(col: str) -> str:
    return (
        f"CASE WHEN length({col}) > 0 THEN "
        f"length(regexp_replace({col}, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE / length({col}) "
        f"ELSE 0.0 END"
    )


def stopword_hits(col: str | Column, stopwords: list[str]) -> Column:
    """Count of tokens that are in ``stopwords`` (with repetition).

    Tokens are ``norm_text`` split on whitespace and norm_text is pure
    [a-z0-9 ], so token membership is exactly whole-word regex matching —
    ONE regexp_count pass over the normalized string per profile instead
    of an interpreted filter-lambda per token (higher-order functions are
    CodegenFallback; measured ~3× on the profile suite). Equivalence to
    the filter form is pinned by a test; the DuckDB twin keeps the
    list_filter form, so the oracle also cross-checks the rewrite."""
    import re as _re

    if not stopwords:
        return F.lit(0).cast("bigint")  # '\b()\b' would match every boundary
    pattern = r"\b(" + "|".join(_re.escape(w) for w in stopwords) + r")\b"
    return F.regexp_count(norm_text(col), F.lit(pattern)).cast("bigint")


def stopword_hits_sql(col: str, stopwords: list[str]) -> str:
    lits = ", ".join(f"'{s}'" for s in stopwords)
    return (
        f"CAST(len(list_filter({tokens_sql(col)}, x -> list_contains([{lits}], x))) AS BIGINT)"
    )
