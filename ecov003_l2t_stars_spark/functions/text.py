"""Text analysis: token counting, quality scoring, fingerprints, lang-ID.

Engine-new training-data-pipeline components. All hot-path scoring is
JVM-side column expressions (split/regexp/length/fold); the lang-ID
classifier is a broadcast-join against a tiny learned profile table
(SURVEY §2.3 J8 broadcast pattern, the reference's LUT join
``BRDF/BRDF.py:8-15``).

Frozen formulas (mirrored in oracle SQL where checked):

- token_count: whitespace tokens of trimmed text.
- bpe_ish_count: count of matches of an approximate BPE segmentation
  regex (word pieces + digits + punctuation).
- quality_score in [0,1]:
    0.4 * clamp(n_tokens / 64, 0, 1)
  + 0.3 * (1 - punct_ratio)           punct_ratio = punct chars / chars
  + 0.3 * stopword_ratio              share of tokens in a fixed list
- fingerprint: polynomial rolling hash of tokens mod 2^31-1 with base
  1000003 over byte-fold token codes (pure integer folds that never
  overflow int64 — DuckDB errors on BIGINT overflow while Java wraps, so
  intermediates must stay < 2^63 in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.session import prune_zip_importers

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
MOD = (1 << 31) - 1
BASE = 1000003


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), " +")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def bpe_ish_count(text: Column) -> Column:
    """Approximate BPE piece count: 4-char word chunks + digits + punct."""
    pieces = F.regexp_extract_all(
        text, F.lit(r"([A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s])"), 1
    )
    return F.size(pieces)


def punct_ratio(text: Column) -> Column:
    no_punct = F.regexp_replace(text, r"[^\w\s]", "")
    return F.when(F.length(text) > 0,
                  (F.length(text) - F.length(no_punct)).cast("double")
                  / F.length(text).cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    return F.when(F.size(toks) > 0,
                  n_stop.cast("double") / F.size(toks).cast("double")
                  ).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    ntok = token_count(text).cast("double")
    lengthiness = F.least(ntok / F.lit(64.0), F.lit(1.0))
    return (
        F.lit(0.4) * lengthiness
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text))
        + F.lit(0.3) * stopword_ratio(text)
    )


def _token_code(t: Column) -> Column:
    """Integer code of a token: byte-fold (positive, engine-agnostic)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * F.lit(131) + c, F.lit(MOD)),
    )


def token_hash62(t: Column) -> Column:
    """62-bit cross-engine token hash: two independent 31-bit polynomial
    byte-folds (bases 1000003 / 131, both mod 2^31-1) packed hi*2^31+lo.

    Chosen over ``xxhash64`` for SimHash so the whole signature is
    reproducible in ANSI SQL (DuckDB oracle twin). Always positive and
    < 2^62, so every intermediate stays inside BIGINT in both engines.
    """
    chars = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("long"),
    )

    def fold(base: int) -> Column:
        def step(acc, c):
            return F.pmod(acc * F.lit(base) + c, F.lit(MOD))

        return F.aggregate(chars, F.lit(0).cast("long"), step)

    return fold(BASE) * F.lit(1 << 31).cast("long") + fold(131)


def token_hash62_np(tokens) -> "np.ndarray":
    """NumPy twin of :func:`token_hash62`, bit-identical, for Arrow
    kernels (the per-character JVM fold is an interpreted HOF costing
    O(chars) expression evaluations per token — CLAUDE.md rule 11).

    Vectorized Horner folds GROUPED BY TOKEN LENGTH: one (count, L)
    code-point matrix per distinct length (UTF-32 code points == Spark's
    ``ascii()`` per character), L vectorized mod-steps — total work is
    exactly the total character count, with no padding blow-up from one
    long outlier token. Parity with the Spark expression (including the
    empty-token → 0 edge) is pytest-asserted.
    """
    import numpy as np

    n = len(tokens)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    uniq, starts = np.unique(sl, return_index=True)
    for ui, L in enumerate(uniq):
        lo = starts[ui]
        hi = starts[ui + 1] if ui + 1 < len(uniq) else n
        idx = order[lo:hi]
        if L == 0:  # Spark's fold over an empty token yields 0
            continue
        buf = "".join(tokens[i] for i in idx).encode("utf-32-le")
        cp = (
            np.frombuffer(buf, dtype=np.uint32)
            .astype(np.int64)
            .reshape(len(idx), int(L))
        )
        h1 = np.zeros(len(idx), dtype=np.int64)
        h2 = np.zeros(len(idx), dtype=np.int64)
        for p in range(int(L)):
            c = cp[:, p]
            h1 = (h1 * BASE + c) % MOD
            h2 = (h2 * 131 + c) % MOD
        out[idx] = h1 * (1 << 31) + h2
    return out


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over token codes, mod 2^31-1.

    Pure integer folds → bit-identical in Spark and DuckDB.
    """
    codes = F.transform(tokens(text), _token_code)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * F.lit(BASE) + c, F.lit(MOD)),
    )


# ---------------------------------------------------------------------------
# Language ID: character-trigram profiles learned from a labeled sample,
# classification via broadcast-join + profile-overlap score.
# ---------------------------------------------------------------------------
def norm_text(text: Column) -> Column:
    return F.lower(F.regexp_replace(text, r"\s+", "_"))


def trigrams(text: Column) -> Column:
    """Trigram array of an ALREADY-SIMPLE column.

    Pass a materialized column (``withColumn`` the normalization first):
    Catalyst inlines outer expressions into the transform lambda, so a
    computed argument is re-evaluated per element — O(len^2) regex work
    per row (measured 19s for 5000 docs before this split).
    """
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - 2, F.lit(1))),
        lambda i: F.substr(text, i, F.lit(3)),
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition an under-parallelized projection before a per-row
    Arrow kernel — a one-file corpus otherwise runs the whole kernel on
    one core. No-op when the input is backed by >= shuffle_partitions
    FILES (the 100-TB scan path is left shuffle-free). Metadata-only
    probe via ``inputFiles()``: a ``.rdd.getNumPartitions()`` probe
    forces AQE to execute upstream stages at plan-build time (measured
    4.3s of hidden build work on the minhash verify path). Back-to-back
    repartitions from nested spreads collapse (CollapseRepartition)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < n_part:
        return df.repartition(n_part)
    return df


def trigram_explode(
    df: DataFrame,
    text_col: str = "_t",
    keep_cols: tuple = ("doc_id",),
) -> DataFrame:
    """Exploded overlapping trigrams of an ALREADY-NORMALIZED column, as
    one Arrow kernel (CLAUDE.md rule 11).

    Equivalent to ``F.explode(trigrams(col))`` but linear: the Catalyst
    ``transform(sequence(...), i -> substr(t, i, 3))`` form re-scans the
    UTF-8 buffer from the start for every position (UTF8String char→byte
    lookup is O(i)), so a length-L doc costs O(L²) byte scans — visible
    on the CJK rows, where chars ≠ bytes kills the ASCII fast path.
    Python slicing over the decoded code points is O(L) per doc.

    Parity boundary: normalization (lower + regexp) stays JVM-side in
    ``norm_text``; this kernel only slices, and Python str slicing ==
    Spark ``substr`` == DuckDB ``substr`` (all code-point indexed).
    A doc shorter than 3 chars yields one trigram = the whole string,
    matching ``substr(t, 1, 3)`` over ``sequence(1, greatest(L-2, 1))``.
    NULL text rows are dropped, matching ``explode`` of a NULL array.
    """
    import numpy as np
    import pandas as pd

    keep_fields = [df.schema[c] for c in keep_cols]

    def gen(batches):
        prune_zip_importers()
        for pdf in batches:
            texts = pdf[text_col]
            mask = texts.notna()
            if not mask.all():
                pdf = pdf[mask]
                texts = pdf[text_col]
            tl = texts.tolist()
            n = len(tl)
            counts = np.fromiter(
                (max(len(t) - 2, 1) for t in tl), dtype=np.int64, count=n
            )
            out = {
                c: np.asarray(pdf[c].values).repeat(counts)
                for c in keep_cols
            }
            out["tg"] = [
                t[i:i + 3] for t in tl for i in range(max(len(t) - 2, 1))
            ]
            yield pd.DataFrame(out)

    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        list(keep_fields) + [StructField("tg", StringType())]
    )
    return _spread(df.select(*keep_cols, text_col)).mapInPandas(
        gen, out_schema
    )


def trigram_counts(
    df: DataFrame,
    text_col: str = "_t",
    keep_cols: tuple = ("doc_id",),
) -> DataFrame:
    """Per-row trigram COUNTS — (keep_cols..., tg, c) — in one Arrow
    kernel with NO shuffle.

    A document's trigrams all live inside its own Arrow batch row, so
    the (row, trigram) → count aggregation is exact map-side: this
    replaces ``trigram_explode(...).groupBy(keys, "tg").count()``
    (a ~2× wider shuffle of every trigram occurrence as a string row)
    with a per-doc ``Counter``. Same parity boundary as
    ``trigram_explode``: slicing only, normalization stays JVM-side.
    """
    from collections import Counter

    import numpy as np
    import pandas as pd

    keep_fields = [df.schema[c] for c in keep_cols]

    def gen(batches):
        prune_zip_importers()
        for pdf in batches:
            texts = pdf[text_col]
            mask = texts.notna()
            if not mask.all():
                pdf = pdf[mask]
                texts = pdf[text_col]
            tl = texts.tolist()
            n = len(tl)
            sizes = np.empty(n, dtype=np.int64)
            tgs = []
            cs = []
            for j, t in enumerate(tl):
                cnt = Counter(
                    t[i:i + 3] for i in range(max(len(t) - 2, 1))
                )
                sizes[j] = len(cnt)
                tgs.extend(cnt.keys())
                cs.extend(cnt.values())
            out = {
                c: np.asarray(pdf[c].values).repeat(sizes)
                for c in keep_cols
            }
            out["tg"] = tgs
            out["c"] = np.asarray(cs, dtype=np.int64)
            yield pd.DataFrame(out)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(keep_fields)
        + [StructField("tg", StringType()), StructField("c", LongType())]
    )
    return _spread(df.select(*keep_cols, text_col)).mapInPandas(
        gen, out_schema
    )


def lang_id_self(docs: DataFrame, top_n: int = 200) -> DataFrame:
    """Self-labeled lang-ID: profiles and classification from ONE trigram
    extraction pass.

    ``build_lang_profiles`` + ``classify_lang`` each explode the whole
    corpus (two scans, two interpreted-HOF passes — rule 10's
    no-ReusedExchange trap). Here ``trigram_counts`` produces the
    (doc_id, lang, tg, c) base in one shuffle-free kernel pass; the
    per-language counts are a second-level rollup (sum of c) and the
    distinct doc-trigram pairs are the group keys themselves. Scores
    and tie-breaks are identical to ``classify_lang`` (integer math,
    argmax with lexicographic tie-break).
    """
    from pyspark.sql import Window

    norm = docs.withColumn("_t", norm_text(F.col("text")))
    # localCheckpoint, not persist: both the profile rollup and the
    # classification join consume it; checkpoint blocks are released by
    # the ContextCleaner when the plan is dropped (persist would pin
    # them in the CacheManager across calls — session-lifetime leak)
    base = trigram_counts(norm, "_t", ("doc_id", "lang")).localCheckpoint(
        eager=False
    )
    counts = base.groupBy("lang", "tg").agg(F.sum("c").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tg"))
    profiles = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("lang", "tg", "rank")
    )
    doc_tg = base.select("doc_id", "tg")
    scored = (
        doc_tg.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.lit(top_n) - F.col("rank")).alias("score"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


def build_lang_profiles(
    labeled: DataFrame, text_col: str = "text", lang_col: str = "lang",
    top_n: int = 200,
) -> DataFrame:
    """Top-N trigrams per language with ranks (tiny table → broadcast)."""
    from pyspark.sql import Window

    tg = labeled.withColumn("_t", norm_text(F.col(text_col))).select(
        F.col(lang_col).alias("lang"),
        F.explode(trigrams(F.col("_t"))).alias("tg"),
    )
    counts = tg.groupBy("lang", "tg").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tg"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("lang", "tg", "rank")
    )


def classify_lang(
    docs: DataFrame,
    profiles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Score = sum of (top_n - rank) over profile trigrams present in the
    doc; predicted lang = argmax (ties → lexicographically first lang).

    ``top_n`` must match the value the profiles were built with
    (``build_lang_profiles``) — ranks run 1..top_n, so a mismatched
    value skews (or sign-flips) the per-trigram weights."""
    from pyspark.sql import Window

    doc_tg = docs.withColumn("_t", norm_text(F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(trigrams(F.col("_t")))).alias("tg"),
    )
    scored = (
        doc_tg.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.lit(top_n) - F.col("rank")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )
