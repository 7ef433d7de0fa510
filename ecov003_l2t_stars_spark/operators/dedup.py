"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Engine-new training-data-pipeline components (SURVEY §2.4 A8 covers only
the reference's exact catalog dedup, ``VIIRS/VNP09GA.py:1138``; the rest
are the scale-path generalizations a 100 TB corpus needs).

Scale design:

- exact dedup: hash-groupBy, one shuffle.
- n-gram Jaccard all-pairs: the VERIFICATION path (quadratic, guarded);
  shingles come from the same Arrow kernel as the scale path, set ops
  stay JVM-side (``array_intersect``/``array_union``).
- MinHash+LSH: the SCALE path. The whole signature (shingles +
  token_hash62 + 64 Carter–Wegman mixes + mins) is ONE Arrow kernel, no
  shuffle; the band self-join CARRIES only the PACKED screen bytes of
  the signature (10 longs/row — shuffle keyed on (band, band_hash),
  skew-safe because buckets are hash-random, and no join-back against a
  doc-count-sized signature table), the codegen'd byte-agreement screen
  cuts candidates inside the join stage (superset of the exact
  component screen — see ``_screen_agree``), and only the surviving
  docs are shingled for exact-Jaccard verification. Recall
  for jaccard >= 0.8 at 64/16 banding is 1 - (1-0.8^4)^16 ≈ 0.9998.
- SimHash: 62-bit signature via per-bit majority of token hashes;
  near-dups = signatures within Hamming distance d (banded by 16-bit
  blocks for candidate generation — any pair within d<=3 shares a block).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.functions.text import _spread
from ecov003_l2t_stars_spark.session import prune_zip_importers


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-char shingle array (JVM expression, no UDF).

    Expression form for small inputs: ``substr(t, i, k)`` re-scans the
    UTF-8 buffer per position (O(L²) byte scans/doc — the trigram-kernel
    lesson). :func:`shingle_table` is the Arrow twin for corpus-scale
    passes; multiset parity between the two is pytest-pinned."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
            lambda i: F.substr(text, i, F.lit(k)),
        )
    )


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    spread: bool = True,
) -> DataFrame:
    """(_id, _sh array<string>) — distinct k-shingles per doc as ONE
    Arrow kernel (linear slicing over code points; ``dict.fromkeys``
    preserves first-occurrence order exactly like ``array_distinct``).
    Python slicing == Spark ``substr`` == DuckDB ``substr`` on code
    points, so shingle SETS (all any consumer uses: minhash mins,
    Jaccard set sizes) are identical to :func:`char_shingles`.

    ``spread=False`` for COMPUTED inputs (joins/aggregates upstream):
    the partition probe in :func:`_spread` forces AQE to execute the
    upstream stages at plan-build time — only raw scans should probe.
    """
    sel = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    if spread:
        sel = _spread(sel)
    id_type = sel.schema["_id"].dataType.simpleString()

    def gen(batches):
        prune_zip_importers()
        for pdf in batches:
            texts = pdf["_t"]
            out = [
                None
                if t is None
                else list(
                    dict.fromkeys(
                        t[i:i + k] for i in range(max(len(t) - (k - 1), 1))
                    )
                )
                for t in texts
            ]
            yield pd.DataFrame({"_id": pdf["_id"], "_sh": out})

    return sel.mapInPandas(gen, f"_id {id_type}, _sh array<string>")


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.dropDuplicates(cols)


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_rows: int | None = 10_000,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard (verification path).

    Quadratic by design: guarded by ``max_rows`` (one cheap count job)
    so it cannot be launched accidentally on a large table. Pass
    ``max_rows=None`` to opt out; ``minhash_lsh_dedup`` is the unbounded
    scale path.
    """
    from ecov003_l2t_stars_spark.operators.similarity import _guard_quadratic

    _guard_quadratic("jaccard_pairs", docs, max_rows)
    sh = shingle_table(docs, id_col, text_col, k)
    # non-equi self-join = BroadcastNestedLoopJoin; parallelism equals
    # the streamed side's partitions — repartition or a single-file
    # input runs the whole n^2 on one core
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sh = sh.repartition(n_part)
    a = sh.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_shb"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    k: int = 5,
) -> DataFrame:
    """(id, array<long> signature): universal-hash minhash family.

    Each shingle is string-hashed ONCE (the deterministic
    ``token_hash62`` fold, reduced mod M), then the ``n_hashes``
    component hashes are affine mixes in the classic Carter–Wegman
    family ``h_j(s) = (a_j*h(s) + b_j) mod M`` (M = 2^31-1,
    1 <= a_j < M): pairwise-independent, every intermediate < 2^62.

    The ENTIRE signature — shingling, shingle hash, mixes, mins — is
    ONE Arrow/NumPy kernel straight off (id, text): the previous
    Py→JVM→Py sandwich (shingle kernel → ``xxhash64`` transform → mix
    kernel) serialized the shingle and hash arrays across the boundary
    twice and cost more than all the math. Signatures never cross
    engines (the driver oracle checks the exact-Jaccard PAIR OUTPUT,
    which the banding construction recovers for any pairwise-independent
    family — recall re-verified by the lsh==exact pytest and the green
    sf0.01 oracle after the hash swap), so the shingle hash needs
    determinism, not a JVM twin. Per memory-bounded shingle chunk: one
    ``(shingles × n_hashes)`` int64 mix matrix, ``minimum.reduceat``
    per doc (the interpreted-HOF fix class, VERDICT r2 #4).
    """
    from ecov003_l2t_stars_spark.functions.text import token_hash62_np

    M = (1 << 31) - 1
    rng = np.random.default_rng(0xC0FFEE)
    a = rng.integers(1, M, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, M, size=n_hashes, dtype=np.int64)

    sel = _spread(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    )
    id_type = sel.schema["_id"].dataType.simpleString()
    # shingles per chunk × n_hashes × 8 B ≈ 64 MB mix-matrix ceiling
    chunk_tokens = max(64 * 1024 * 1024 // (8 * n_hashes), 1024)
    pack_names = _pack_cols(n_hashes)
    n_packs = len(pack_names)

    def _sigs(batches):
        prune_zip_importers()
        for pdf in batches:
            texts = pdf["_t"]
            shingles = [
                None
                if t is None
                else list(
                    dict.fromkeys(
                        t[i:i + k] for i in range(max(len(t) - (k - 1), 1))
                    )
                )
                for t in texts
            ]
            lens = np.array(
                [len(x) if x is not None else 0 for x in shingles],
                dtype=np.int64,
            )
            out: list = [None] * len(shingles)
            n_rows = len(shingles)
            packs = np.zeros((n_rows, n_packs), dtype=np.int64)
            start = 0
            while start < len(shingles):
                end, tok = start, 0
                while end < len(shingles) and (
                    tok == 0 or tok + lens[end] <= chunk_tokens
                ):
                    tok += lens[end]
                    end += 1
                live = [i for i in range(start, end) if lens[i] > 0]
                if live:
                    flat_sh: list = []
                    for i in live:
                        flat_sh.extend(shingles[i])
                    flat = token_hash62_np(flat_sh) % M
                    mixed = (flat[:, None] * a + b) % M
                    starts = np.zeros(len(live), dtype=np.int64)
                    starts[1:] = np.cumsum(lens[live])[:-1]
                    mins = np.minimum.reduceat(mixed, starts, axis=0)
                    for j, i in enumerate(live):
                        out[i] = mins[j]
                    # packed screen bytes ride along from the kernel
                    # (a few NumPy ops per CHUNK): computing them here
                    # instead of as 64-GetArrayItem JVM projections on
                    # both band-join sides keeps the join stage's
                    # generated code small — the JVM-pack form paid a
                    # multi-second one-time codegen/JIT hit per session
                    # plus a steady per-run penalty at sf0.1 (the huge
                    # fused method ran below full JIT quality).
                    low = mins & 0xFF
                    for g in range(n_packs):
                        lanes = min(
                            _SCREEN_LANES, n_hashes - g * _SCREEN_LANES
                        )
                        w = np.int64(1) << (
                            8 * np.arange(lanes, dtype=np.int64)
                        )
                        packs[live, g] = (
                            low[:, g * _SCREEN_LANES:
                                g * _SCREEN_LANES + lanes] * w
                        ).sum(axis=1)
                start = end
            cols = {"_id": pdf["_id"], "_sig": out}
            for g, c in enumerate(pack_names):
                cols[c] = packs[:, g]
            yield pd.DataFrame(cols)

    pack_schema = ", ".join(f"{c} long" for c in pack_names)
    return sel.mapInPandas(
        _sigs, f"_id {id_type}, _sig array<long>, {pack_schema}"
    )


def _star_cap_sides(
    banded: DataFrame,
    keys: tuple[str, ...],
    id_c: str,
    bucket_cap: int | None,
    via_window: bool = False,
    cap_observation=None,
) -> tuple[DataFrame, DataFrame]:
    """Bound per-bucket pair generation in a banded self-join.

    A degenerate (band, bucket) of m near-identical docs — boilerplate
    clusters are the canonical case — would emit m(m-1)/2 candidate
    rows INSIDE one shuffle key: a skew bomb (a 100k-doc cluster is
    ~5e9 pair rows on one task). Above ``bucket_cap`` the within-bucket
    pairing degrades from clique to STAR on the bucket's min id: m-1
    pairs, each member linked to the representative. Pair-level recall
    inside a degenerate bucket drops (non-rep/non-rep pairs are only
    found via other bands), but component CONNECTIVITY — what
    ``dup_clusters``/``dedup_corpus`` consume — is preserved, because
    every member keeps an edge to the rep. Run exact dedup first so
    identical-doc floods never reach the banding.

    Returns (a_side, b_side): join them on ``keys`` with
    ``a.id < b.id``. Buckets at or under the cap appear whole on both
    sides (normal clique pairing); oversized buckets contribute only
    their rep to the a-side and only non-reps to the b-side (rep = min
    id, so the a < b predicate keeps exactly the star).

    Two physical strategies, picked by ``via_window``:

    - ``via_window=True`` (NARROW banded rows, e.g. simhash's four
      fixed-width columns): size and rep come from an unordered window
      over ``keys`` — the SAME hash-partitioning the downstream band
      join needs, reused on both sides via exchange reuse, so the cap
      costs no extra aggregation pass. The r4 groupBy+broadcast form
      ran a separate pass over the banded table and regressed
      simhash_pairs by 9% (VERDICT r4 finding #3); the window form
      recovered it (1.60 -> 1.34 s at sf0.1).
    - ``via_window=False`` (WIDE banded rows, e.g. minhash rows
      carrying the 64-long signature array): the window's shuffle+sort
      would move ~600 B/row through WindowExec — measured +56% on
      minhash_lsh_pairs — while the groupBy aggregates only the narrow
      key columns map-side and the oversize table (tiny by pigeonhole:
      at most rows/cap buckets qualify) broadcasts back.

    ``cap_observation`` (a ``pyspark.sql.Observation``) is the one
    star-cap signal: its ``cap_star_rows`` counts the non-rep member
    rows of oversized buckets, and ``cap_star_rows == 0`` certifies a
    pair-exact run (capped output equals the uncapped one). It rides on
    a stage each strategy already runs — the window stage, or the
    oversize aggregate — and an observed run checkpoints that stage
    eagerly, so the signal reads even when no pair comes out.
    """
    if bucket_cap is None:
        return banded, banded

    def observed(df: DataFrame, star_rows: Column) -> DataFrame:
        # free degradation telemetry (VERDICT r5 #9): one aggregate on a
        # stage that already runs, no extra pass
        if cap_observation is None:
            return df
        return df.observe(
            cap_observation,
            F.coalesce(F.sum(star_rows), F.lit(0)).alias("cap_star_rows"),
        )

    if via_window:
        w = Window.partitionBy(*keys)
        tagged = banded.withColumn(
            "_bsz", F.count(F.lit(1)).over(w)
        ).withColumn("_brep", F.min(id_c).over(w))
        small = F.col("_bsz") <= bucket_cap
        if cap_observation is not None:
            # the Observation rides on the window stage, checkpointed
            # eagerly: observed in the join's stage, it is lost when no
            # pair comes out (AQE replaces the empty join and everything
            # under it by an empty relation, Observation node included)
            tagged = observed(
                tagged,
                F.when(~small & (F.col(id_c) != F.col("_brep")), 1),
            ).localCheckpoint(eager=True)
        a_side = tagged.where(
            small | (F.col(id_c) == F.col("_brep"))
        ).drop("_bsz", "_brep")
        b_side = tagged.where(
            small | (F.col(id_c) != F.col("_brep"))
        ).drop("_bsz", "_brep")
        return a_side, b_side
    # the oversize table is checkpointed EAGERLY: both sides' broadcasts
    # reuse it, and an Observation inside a lazy checkpoint is read
    # before its final stage has run (it would report 0)
    sizes = banded.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bsz"), F.min(id_c).alias("_brep")
    )
    over = (
        observed(sizes, F.when(F.col("_bsz") > bucket_cap, F.col("_bsz") - 1))
        .where(F.col("_bsz") > bucket_cap)
        .drop("_bsz")
        .localCheckpoint(eager=True)
    )
    tagged = banded.join(F.broadcast(over), list(keys), "left")
    a_side = tagged.where(
        F.col("_brep").isNull() | (F.col(id_c) == F.col("_brep"))
    ).drop("_brep")
    b_side = tagged.where(
        F.col("_brep").isNull() | (F.col(id_c) != F.col("_brep"))
    ).drop("_brep")
    return a_side, b_side


_SCREEN_LANES = 7
# components per packed screen long. 7 byte lanes leave the top byte of
# every packed long zero, so the zero-byte-detect subtraction below can
# never overflow int64 (Spark 4 runs ANSI mode: a wrapped `x - LOW`
# raises ARITHMETIC_OVERFLOW; with x >= 0 and x < 2^56 it cannot wrap).


def _pack_cols(n_hashes: int) -> list[str]:
    """Names of the packed screen longs ``_p0 .. _p{ceil(n/7)-1}`` that
    :func:`minhash_signatures` emits: the low byte of each signature
    component in 7-byte lanes. The band join's candidate screen only
    needs an agreement-count LOWER-BOUND test (survivors are
    exact-Jaccard verified afterwards), and equal components always
    have equal low bytes, so screening on packed bytes admits a
    SUPERSET of the exact component screen — identical final output,
    with ~6x fewer shuffle bytes per banded row (10 longs vs a 64-long
    array) and a compact codegen'd predicate instead of a 64-term
    GetArrayItem chain (observed to drop the SortMergeJoin condition
    out of compiled execution: 43 s vs 3.3 s at sf1.0)."""
    return [f"_p{g}" for g in range(-(-n_hashes // _SCREEN_LANES))]


def _screen_agree(n_hashes: int) -> Column:
    """Byte-agreement count between the ``_a{j}``/``_b{j}`` packed
    columns: per long, XOR then the branchless zero-byte detector
    ``(x - 0x01..01) & ~x & 0x80..80`` and ``bit_count``. The borrow
    chain of the subtraction can overcount (flag a nonzero byte next to
    a zero byte) but NEVER undercount — a zero byte always keeps its
    high indicator bit — so the count is >= the true byte agreement,
    which is >= the true component agreement: the screen stays a
    superset filter. Intra-JVM only (never crosses engines), so rule 4
    int-fold discipline does not apply."""
    per = _SCREEN_LANES
    agree = None
    for j in range(-(-n_hashes // per)):
        lanes = min(per, n_hashes - j * per)
        low = sum(0x01 << (8 * i) for i in range(lanes))
        high = sum(0x80 << (8 * i) for i in range(lanes))
        x = F.col(f"_a{j}").bitwiseXOR(F.col(f"_b{j}"))
        hz = (
            (x - F.lit(low))
            .bitwiseAND(F.bitwise_not(x))
            .bitwiseAND(F.lit(high))
        )
        t = F.bit_count(hz)
        agree = t if agree is None else agree + t
    return agree


def _screen_side_cols(prefix: str, n_hashes: int) -> list:
    """Screen columns for one band-join side: the kernel's packed
    ``_p{j}`` longs, renamed ``{prefix}{j}``."""
    return [
        F.col(c).alias(f"{prefix}{j}")
        for j, c in enumerate(_pack_cols(n_hashes))
    ]


def minhash_banded(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Explode minhash signatures into (band, bucket-hash) rows,
    carrying the signature and the kernel's packed screen bytes
    through — no join-back. ``sigs`` is the output of
    :func:`minhash_signatures` with nulls dropped."""
    r = n_hashes // bands
    packs = _pack_cols(n_hashes)
    return sigs.select(
        "_id",
        "_sig",
        *packs,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.xxhash64(
                            *[F.col("_sig")[bnd * r + i] for i in range(r)]
                        ).alias("bh"),
                    )
                    for bnd in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sig", *packs, "_b.band", "_b.bh")


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.8,
    bucket_cap: int | None = 1000,
    cap_observation=None,
) -> DataFrame:
    """Scale-path near-dup pairs: LSH candidates, signature pre-filter,
    exact-Jaccard verification.

    On self-similar corpora the banding emits many low-similarity
    candidates (a shared-vocabulary corpus produced 500k candidates for
    ~250 true pairs at 5000 docs; 11.06M at 50k docs). Before the
    expensive exact set intersection, candidates are screened by the
    minhash ESTIMATE of jaccard (byte-agreement lower-bound test over
    the packed signature bytes — a superset of the exact 64-component
    screen, see :func:`_screen_agree`): a true j>=0.8 pair passes
    est>=0.55 with P(miss) ~ 1e-6 (Binomial(64, 0.8) below 36), while
    j<=0.3 noise passes with P ~ 3e-5 (+1/256-per-component byte-
    collision noise, still negligible). Exact verification then runs on
    the survivors only (measured 74.5s -> ~15s at 5000 docs).

    ``bucket_cap`` bounds per-(band, bucket) candidate generation via
    :func:`_star_cap_sides`: clique pairing below the cap (exact LSH
    semantics), star pairing on the bucket's min id above it — a
    boilerplate cluster of m docs costs m-1 pairs per band instead of
    m²/2 on one shuffle key. Component connectivity is preserved; run
    exact dedup first so identical docs never flood a bucket. Pass
    ``cap_observation`` to learn whether the cap fired (see
    :func:`_star_cap_sides`).

    EAGER: the survivor-id lookup runs the band join while the plan is
    built (see :func:`_screen_verify`)."""
    # null-text docs get a null signature — they can never qualify as
    # near-dups, and banding them would pair every null doc with every
    # other (xxhash64 over nulls is a constant) and feed None rows into
    # the np.stack screen. Drop them before banding.
    # materialized once (both sides of the band self-join consume it;
    # the differently-aliased projections defeat ReusedExchange — rule
    # 10). localCheckpoint instead of persist: cached blocks of a
    # persist() are pinned in the CacheManager until an explicit
    # unpersist/clearCache — impossible from inside a lazy builder —
    # and were accumulating across calls in long-lived sessions;
    # checkpoint blocks are reference-tracked and freed by the
    # ContextCleaner when the returned plan is dropped.
    sigs = (
        minhash_signatures(docs, id_col, text_col, n_hashes, k)
        .where(F.col("_sig").isNotNull())
        .localCheckpoint(eager=False)
    )

    est_min = int((threshold - 0.25) * n_hashes)
    # carry the signatures THROUGH the band self-join (the simhash
    # shape): one shuffle per side keyed (band, bucket-hash), no
    # join-back against the signature table afterwards — the previous
    # candidates→join-sigs-twice plan either broadcast a doc-count-sized
    # table (dead at 10^9 docs) or sort-merged the candidate stream
    # twice. Candidates stay multi-band-duplicated here; the vectorized
    # screen reduces them and the pair-dedup shuffle runs on the tiny
    # survivor set instead.
    banded = minhash_banded(sigs, n_hashes, bands)
    a_side, b_side = _star_cap_sides(banded, ("band", "bh"), "_id",
                                     bucket_cap,
                                     cap_observation=cap_observation)
    # the join sides carry the PACKED screen bytes (10 longs/row), not
    # the 64-long signature array (~530 B/row): the screen decides with
    # small rows (guide §8) and the heavy signatures never shuffle
    paired = (
        a_side.select(
            "band", "bh", F.col("_id").alias("doc_a"),
            *_screen_side_cols("_a", n_hashes),
        )
        .join(
            # SHUFFLE_HASH: skips the per-partition sort of both sides
            # (measured −12% on the join+screen stage at sf1.0). The
            # build side is one shuffle partition of the narrow packed
            # rows (~100 B/row), sized by spark.sql.shuffle.partitions
            # on a cluster — bounded, and per-(band,bh) buckets are
            # already capped by the star cap.
            b_side.select(
                "band", "bh", F.col("_id").alias("doc_b"),
                *_screen_side_cols("_b", n_hashes),
            ).hint("SHUFFLE_HASH"),
            ["band", "bh"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
    )

    return _screen_verify(
        paired, docs, id_col, text_col, k, threshold, est_min, n_hashes
    )


VERIFY_ID_CAP = 10_000
# most screen-survivor ids the verify lookup collects. At or under it
# the ids filter ``docs`` as an ``isin`` predicate pushed to the scan;
# above it the lookup is a left-semi join that never leaves the
# executors. Survivors seen: 45-47 of 500 docs (sf0.001, sf0.01),
# 400 of 5000 on the curate_corpus benchmark corpus.


def _screen_verify(
    paired: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    est_min: int,
    n_hashes: int,
) -> DataFrame:
    """Shared tail of the batch and incremental minhash pipelines:
    packed-byte agreement screen over candidate rows (``doc_a, doc_b``
    plus the ``_a{j}``/``_b{j}`` packed columns from
    :func:`_screen_side_cols`), then exact-Jaccard verification that
    shingles ONLY the screen survivors (looked up in ``docs``).

    The byte screen admits a superset of the exact component-agreement
    screen (see :func:`_screen_agree`); since survivors are decided by
    the exact-Jaccard filter below, the final output is bit-identical
    while the screen itself is a compact compiled predicate evaluated
    inside the band join's stage — no Python boundary, no wide rows
    (the r5 Arrow screen moved ~1 KB per candidate, 11.06M candidates
    at sf1.0).

    EAGER: this function runs the band join once to count the survivor
    ids (at most ``VERIFY_ID_CAP + 1`` are collected)."""
    # materialized: both exact-verify joins consume it, and the
    # survivors drive the lookup below. distinct() here dedups the
    # multi-band duplicates on the post-screen survivor set (a few
    # hundred rows) instead of the full candidate stream.
    screened = (
        paired.where(_screen_agree(n_hashes) >= F.lit(est_min))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )

    # shingle ONLY docs that survive the screen: char_shingles is the
    # per-position HOF (O(L²) UTF8String scans per doc) — building the
    # full-corpus shingle table twice to verify a few hundred pairs
    # dominated the whole operator (measured 4.8s of a 3.4s... the
    # verify stage alone exceeded everything else combined at sf0.1).
    pair_ids = (
        screened.select(F.col("doc_a").alias("_id"))
        .union(screened.select(F.col("doc_b").alias("_id")))
        .distinct()
    )
    ids = [r["_id"] for r in pair_ids.limit(VERIFY_ID_CAP + 1).collect()]
    if not ids:
        id_type = docs.schema[id_col].dataType.simpleString()
        return docs.sparkSession.createDataFrame(
            [], f"doc_a {id_type}, doc_b {id_type}, jaccard double"
        )
    if len(ids) <= VERIFY_ID_CAP:
        # the predicate reaches the parquet scan as ``PushedFilters:
        # In(doc_id, ...)``, so a doc-id-clustered corpus prunes
        # files/row-groups instead of being rescanned (VERDICT r5 #3).
        # No checkpoint: re-running a pruned scan of the survivors for
        # the second verify join is cheaper than a checkpoint job.
        sh = shingle_table(
            docs.where(F.col(id_col).isin(sorted(ids))),
            id_col, text_col, k, spread=False,
        )
    else:
        # materialized once: both verify joins consume it and each would
        # otherwise re-run the corpus-wide semi-join
        sh = shingle_table(
            docs.join(pair_ids, F.col(id_col) == pair_ids["_id"],
                      "left_semi"),
            id_col, text_col, k,
            spread=False,  # joined input: the partition probe would
            # force AQE to run the screen pipeline at plan-BUILD time
        ).localCheckpoint(eager=False)
    joined = (
        screened.join(
            sh.withColumnRenamed("_id", "doc_a").withColumnRenamed("_sh", "_sha"),
            "doc_a",
        ).join(
            sh.withColumnRenamed("_id", "doc_b").withColumnRenamed("_sh", "_shb"),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return (
        joined.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """The persisted state of the INCREMENTAL near-dup pipeline: one
    (``_id, _sig, _p*, band, bh``) row per (doc, band) — the banded signature
    table :func:`minhash_lsh_increment` joins new batches against.
    Initialize it from the existing corpus (or start empty), write it
    partitioned/bucketed by ``(band, bh)``, and append each increment's
    ``new_store_rows`` after processing the batch. Reference analog:
    the prior-aware range start that lets the daily advance skip
    already-processed dates (L2T_STARS.py:328-335)."""
    sigs = minhash_signatures(docs, id_col, text_col, n_hashes, k).where(
        F.col("_sig").isNotNull()
    )
    return minhash_banded(sigs, n_hashes, bands)


def minhash_lsh_increment(
    new_docs: DataFrame,
    store: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.8,
    bucket_cap: int | None = 1000,
    new_banded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: returns ``(pairs, new_store_rows)`` where
    ``pairs`` are the near-dup pairs TOUCHING the new batch (new-new and
    new-old) and ``new_store_rows`` are the batch's banded signatures to
    append to ``store`` afterwards.

    Only the new docs are shingled/minhashed — prior batches enter via
    their persisted signatures. The store side of the band join is
    first pruned to the buckets the new batch touches (a left-semi on
    ``(band, bh)``: with the store bucketed on that key this prunes at
    the scan, so per-increment cost scales with the BATCH, not the
    corpus). Because all members of every touched bucket are present,
    candidate generation inside those buckets — including the
    ``bucket_cap`` star degradation — is identical to the full-corpus
    recompute, so::

        increment(batch_n) ∪ pairs-so-far  ==  full recompute

    bit-for-bit, provided no touched bucket crossed ``bucket_cap``
    BETWEEN increments (a bucket under the cap at batch 1 but over it
    after batch 2 star-degrades pairs the earlier increment emitted in
    full — connectivity is still preserved; for pair-exact incremental
    runs read ``cap_observation`` on a batch run of the corpus, or pass
    ``bucket_cap=None``). Verification shingles only screen survivors,
    looked up in ``docs`` (the corpus including the new batch — old
    survivors need their text for the exact-Jaccard check, exactly as
    the full recompute would).

    ``new_banded`` — a precomputed :func:`minhash_signature_store` of
    the batch: callers that already built the batch's banded
    signatures (the streaming harness computes them to derive the
    store's partition-prune set) pass them here so the batch is
    shingled exactly once.

    ``store`` must carry the packed screen columns ``_p*`` that
    :func:`minhash_signature_store` writes; a store without them raises
    ``ValueError``. EAGER like :func:`minhash_lsh_dedup` (see
    :func:`_screen_verify`).
    """
    packs = _pack_cols(n_hashes)
    missing = [c for c in packs if c not in store.columns]
    if missing:
        raise ValueError(
            f"signature store lacks the packed screen columns {missing}; "
            "rebuild it with minhash_signature_store"
        )
    if new_banded is None:
        sigs_new = (
            minhash_signatures(new_docs, id_col, text_col, n_hashes, k)
            .where(F.col("_sig").isNotNull())
            .localCheckpoint(eager=False)
        )
        new_banded = minhash_banded(sigs_new, n_hashes, bands)

    touched = new_banded.select("band", "bh").distinct()
    old_in_touched = store.join(touched, ["band", "bh"], "left_semi")
    all_banded = old_in_touched.select(
        "_id", "_sig", *packs, "band", "bh", F.lit(False).alias("_new")
    ).unionByName(
        new_banded.select(
            "_id", "_sig", *packs, "band", "bh", F.lit(True).alias("_new")
        )
    )
    a_side, b_side = _star_cap_sides(all_banded, ("band", "bh"), "_id",
                                     bucket_cap)
    paired = (
        a_side.select(
            "band", "bh", F.col("_id").alias("doc_a"),
            F.col("_new").alias("_newa"),
            *_screen_side_cols("_a", n_hashes),
        )
        .join(
            b_side.select(
                "band", "bh", F.col("_id").alias("doc_b"),
                F.col("_new").alias("_newb"),
                *_screen_side_cols("_b", n_hashes),
            ).hint("SHUFFLE_HASH"),  # see minhash_lsh_dedup
            ["band", "bh"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(F.col("_newa") | F.col("_newb"))
    )
    est_min = int((threshold - 0.25) * n_hashes)
    pairs = _screen_verify(
        paired, docs, id_col, text_col, k, threshold, est_min, n_hashes
    )
    return pairs, new_banded


SIMHASH_BITS = 62


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """62-bit SimHash over whitespace tokens.

    bit b of the signature = 1 iff sum over tokens of
    (+1 if bit b of token_hash62(token) else -1) > 0.

    Tokenization + hashing stay JVM-side: the cross-engine
    ``token_hash62`` fold (two 31-bit polynomial byte-folds packed into
    one positive BIGINT) gives the full signature — and therefore the
    near-pair output — an exact ANSI-SQL oracle twin. The 62-counter
    accumulation then runs as ONE vectorized Arrow/NumPy kernel per
    batch (flatten token hashes, one (n_tokens × 62) bit matrix,
    segment-sum, pack sign bits): pure-integer ops, so it is bit-equal
    to the old per-bit JVM folds, but a single pass instead of 62
    interpreted higher-order folds per row (VERDICT r2 #4 — Spark's
    ``aggregate``/``transform`` are interpreted, not codegen'd). 62 bits
    keeps the signature positive (no sign-bit special case) at a
    negligible collision-probability cost vs 64.
    """
    # Tokenization stays JVM; hashing AND the counter accumulation run in
    # one Arrow/NumPy kernel: token_hash62_np is the bit-identical twin
    # of the JVM expression (whose per-character fold is an interpreted
    # HOF, O(chars) expression evals — CLAUDE.md rule 11). mapInPandas
    # (not an expression UDF) because Spark 4.1 cannot extract a Python
    # UDF whose collapsed argument contains HOF lambdas (rule 12).
    from ecov003_l2t_stars_spark.functions.text import token_hash62_np

    toks = F.split(F.trim(F.col(text_col)), " +")
    tokenized = _spread(
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    )
    id_type = tokenized.schema["doc_id"].dataType.simpleString()
    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)

    def _sig(batches):
        prune_zip_importers()
        for pdf in batches:
            rows = list(pdf["_t"])
            lens = np.array(
                [len(x) if x is not None else 0 for x in rows],
                dtype=np.int64,
            )
            out = np.zeros(len(rows), dtype=np.int64)  # NULL tokens → 0
            nz = lens > 0
            if nz.any():
                flat_tokens: list[str] = []
                for x in rows:
                    if x is not None and len(x):
                        flat_tokens.extend(x)
                flat = token_hash62_np(flat_tokens)
                bits = ((flat[:, None] >> shifts) & 1) * 2 - 1
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                starts[1:] = np.cumsum(lens[nz])[:-1]
                sums = np.add.reduceat(bits, starts, axis=0)
                out[nz] = ((sums > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": out}
            )

    return tokenized.mapInPandas(_sig, f"doc_id {id_type}, simhash long")


def simhash_blocks(sigs: DataFrame) -> DataFrame:
    """Explode simhash signatures into 4 × 16-bit (block, value) rows
    (``sigs``: output of :func:`simhash`)."""
    return sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("_b"),
    ).select("doc_id", "simhash", "_b.blk", "_b.bv")


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_cap: int | None = 1000,
    cap_observation=None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded by 16-bit blocks
    (any pair with distance <= 3 agrees on at least one of 4 blocks —
    exact recall at d<=3, so output equals the all-pairs computation;
    the top block carries the signature's upper 14 bits).

    ``bucket_cap`` bounds per-(block, value) pair generation via
    :func:`_star_cap_sides` (clique below the cap, star on the min id
    above it) — all-pairs equality holds for corpora whose block
    buckets stay under the cap; degenerate boilerplate buckets keep
    star connectivity only. Pass ``cap_observation`` to learn whether
    the cap fired (see :func:`_star_cap_sides`)."""
    # materialized: the banded self-join consumes the signature kernel
    # on both sides, and mapInPandas output is not exchange-reused.
    # localCheckpoint, not persist — cache blocks would be pinned until
    # an explicit unpersist (leak in long-lived sessions); checkpoint
    # blocks are freed by the ContextCleaner with the returned plan.
    sigs = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    blocks = simhash_blocks(sigs)
    a_side, b_side = _star_cap_sides(blocks, ("blk", "bv"), "doc_id",
                                     bucket_cap, via_window=True,
                                     cap_observation=cap_observation)
    l = a_side.select("blk", "bv", F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("_sa"))
    r = b_side.select("blk", "bv", F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("_sb"))
    # hamming filter BEFORE the pair-dedup: a near-identical cluster
    # floods the band join with duplicate candidates (439k at sf0.1),
    # and distinct-ing the full 4-column candidate set costs more than
    # the bit_count filter that kills ~99% of them. Filter-then-distinct
    # equals distinct-then-filter (the predicate is per-row
    # deterministic).
    dist = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        l.join(r, ["blk", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", dist)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def _is_star_forest(E: DataFrame) -> bool:
    """True iff the canonical (u < v) edge set ``E`` is a star forest
    whose centers are their components' minima: no node on both sides
    (u-set ∩ v-set = ∅) AND every v on exactly one edge, so the labels
    can be read off. Disjointness alone is not enough: a leaf hanging
    under two centers joins two stars that the labels would split into
    two clusters ({(0,5),(1,2),(2,3),(3,5)} did). One aggregate job; an
    empty edge set passes."""
    roles = E.select(F.col("v").alias("n"), F.lit(1).alias("_v"))
    roles = roles.unionByName(
        E.select(F.col("u").alias("n"), F.lit(0).alias("_v"))
    )
    return (
        roles.groupBy("n")
        .agg(F.sum("_v").alias("nv"), F.count(F.lit(1)).alias("deg"))
        .where(
            (F.col("nv") > 1)
            | ((F.col("nv") == 1) & (F.col("deg") > 1))
        )
        .isEmpty()
    )


def _alternating_star(
    edges: DataFrame, max_iters: int
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) —
    O(log n) rounds instead of the O(diameter) of min-label
    propagation, so the round count is no longer data-shape-dependent.

    ``edges``: canonical (u, v) with u < v, distinct. Per round:

    - large-star: for every node u, connect each STRICTLY LARGER
      neighbor v to m(u) = min(Γ(u) ∪ {u}) — each undirected edge is
      processed from its smaller endpoint's side;
    - small-star: for every node u, connect its strictly smaller
      neighbors and u itself to m(u) = min of the smaller neighborhood.

    Both operations preserve connectivity and monotonically pull nodes
    toward their component minimum. One convergence rule: before each
    round, the initial edges included, :func:`_is_star_forest` tests
    whether the labels can be read off now, and the loop stops when
    they can. A fixed point of a round is a star forest rooted at each
    component's minimum, so this test fires no later than a test for
    equal consecutive edge sets would, at one aggregate job per round
    instead of a count plus an anti-join; an exhaustive run over every
    graph on up to 6 nodes found no fixed point that fails it and no
    graph that needs more than 3 rounds. A graph that is already a star
    forest (disjoint pairs, one hub) runs no round.

    Scale shape per round: two single-pass windowed min aggregations
    keyed on node id — no joins, no driver-side graph state; each
    round's edge set is eagerly localCheckpoint-ed (lineage would otherwise double
    every round; on a production cluster prefer a durable
    ``checkpoint()`` for executor-loss tolerance).

    Returns (final star-forest edges, rounds used).
    """
    E = edges.localCheckpoint(eager=True)
    rounds = 0
    while rounds < max_iters and not _is_star_forest(E):
        rounds += 1
        # both star ops are SINGLE-PASS window aggregations (one
        # exchange on u each, no self-joins): a groupBy+join form
        # recomputes the upstream pipeline once per consumer (rule 10)
        # and roughly doubles the per-round stage count
        wu = Window.partitionBy("u")
        nbr = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: (m(u), v) for v in Γ(u), v > u, with
        # m(u) = min(Γ(u) ∪ {u}); m ≤ u < v so the edge is canonical
        large = (
            nbr.withColumn(
                "_m", F.least(F.min("v").over(wu), F.col("u"))
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("_m").alias("u"), "v")
        )
        # small-star over large's output: per node u, connect its
        # strictly smaller neighbors and u itself to their min — one
        # output edge per input row (the v == m row becomes the self
        # edge (m, u))
        nbr2 = large.unionByName(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        smaller = nbr2.where(F.col("v") < F.col("u"))
        E = (
            smaller.withColumn("_m", F.min("v").over(wu))
            .select(
                F.col("_m").alias("u"),
                F.when(F.col("v") == F.col("_m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("v"),
            )
            .where(F.col("u") < F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    return E, rounds


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    The step after pair generation in a dedup pipeline: group mutually
    similar docs so one canonical representative (the min id in the
    component) survives. Runs :func:`_alternating_star` — the published
    O(log n)-round large-star/small-star algorithm — then reads labels
    off the final star forest: members point at their root, roots label
    themselves. ``max_iters`` is a safety bound only; convergence takes
    ~log₂(longest chain) rounds (pinned in tests).
    """
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    stars, _ = _alternating_star(edges, max_iters)
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct()
    )
    # star forest: each member has exactly one edge to its root; the
    # groupBy-min is a no-op safety net if max_iters truncated the run
    members = stars.groupBy(F.col("v").alias("node")).agg(
        F.min("u").alias("_root")
    )
    return nodes.join(members, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("_root"), F.col("node")).alias("cluster_id"),
    )


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Near-duplicate REMOVAL: keep each duplicate cluster's canonical
    doc (the min id, via :func:`dup_clusters`) plus every unclustered
    doc — the final step of the dedup pipeline (pairs → components →
    surviving corpus).

    Scale shape: the drop set is (cluster members − representatives),
    far smaller than the corpus; the anti-join broadcasts it when small
    and degrades gracefully to a shuffle join when not.
    """
    clusters = dup_clusters(pairs, a_col, b_col)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")
