"""Seeded input generators. The same seed gives the same inputs; the
engine only ever sees what these functions return or write.

- transcripts: the engine's own generator
  (``sources.transcripts.GenSpec``), with the number and size of the hot
  conversations fixed;
- late batches: held-out turns of seed-chosen conversations, split
  into batches of whole conversations;
- corpus: a documents table in the schema of the driver's
  ``documents.parquet`` (doc_id, text, lang, source, n_chars), with
  seeded near-duplicate chains and exact duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ~300-char token soup over a small shared vocabulary, like the driver's
# documents table: random docs overlap heavily in 5-shingles, so LSH
# banding yields many candidates that the screen must reject
_VOCAB = np.array(
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer index page cache shard block bloom tree "
    "node edge graph rank score token shingle band bucket".split()
)
_STOP = np.array("the a and of to in is on for with".split())
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
LANGS = ("en", "de", "fr", "es", "zh")
# each language favours its own slice of the vocabulary, so trigram
# profiles differ per language and lang_id has signal to find
_LANG_SLICE = 10


def transcripts(n_convs: int, seed: int, n_hot: int) -> pd.DataFrame:
    """The engine's generator with the hot conversations fixed in number
    and size: ``n_convs`` ordinary conversations (gappy and duplicate
    turns as ``GenSpec`` makes them) plus exactly ``n_hot`` hot ones of
    20k turns each. ``GenSpec``'s own hot fraction draws the hot count
    per seed, which swung the input 3x in turns across seeds."""
    from ecov003_l2t_stars_spark.sources.transcripts import (
        GenSpec,
        generate_transcripts,
    )

    body = generate_transcripts(
        GenSpec(n_convs=n_convs, seed=seed, hot_frac=0.0)
    )
    if not n_hot:
        return body
    hot = generate_transcripts(
        GenSpec(n_convs=n_hot, seed=seed, conv_offset=n_convs,
                hot_frac=1.0, hot_multiplier=20_000, hot_cap=20_000)
    )
    return pd.concat([body, hot], ignore_index=True)


def write_transcripts(path: str, df: pd.DataFrame) -> None:
    """One parquet file in the engine's transcript schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False).cast(schema), path
    )


def late_split(
    pdf: pd.DataFrame,
    seed: int,
    n_batches: int,
    batch_convs: int = 50,
    turn_frac: float = 0.3,
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Hold out ``turn_frac`` of the turns of ``n_batches * batch_convs``
    seed-chosen conversations. Returns (remainder, late batches); each
    batch holds the held-out turns of ``batch_convs`` whole
    conversations. The held-out turns sit between turns that stay in
    the remainder, so they land in buckets the first build closed."""
    rng = np.random.default_rng([seed, 0x1A7E])
    convs = np.sort(pdf["conv_id"].unique())
    n_chosen = min(len(convs), n_batches * batch_convs)
    chosen = rng.choice(convs, size=n_chosen, replace=False)
    held = pdf["conv_id"].isin(chosen).to_numpy() & (
        rng.random(len(pdf)) < turn_frac
    )
    rest, late = pdf[~held], pdf[held]
    late_convs = [c for c in chosen if c in set(late["conv_id"])]
    batches = [
        late[late["conv_id"].isin(late_convs[i:i + batch_convs])]
        for i in range(0, len(late_convs), batch_convs)
    ]
    return rest.reset_index(drop=True), [
        b.reset_index(drop=True) for b in batches
    ]


def _doc_words(rng, lang_idx: int, n_words: int) -> list[str]:
    own = _VOCAB[lang_idx * _LANG_SLICE:(lang_idx + 1) * _LANG_SLICE]
    pick = rng.random(n_words)
    words = np.where(
        pick < 0.2,
        rng.choice(_STOP, n_words),
        np.where(
            pick < 0.5,
            rng.choice(own, n_words),
            rng.choice(_VOCAB, n_words),
        ),
    )
    return words.tolist()


def _chain(rng, n_nodes: int) -> list[str]:
    """A near-duplicate path: windows of ``w`` words sliding by
    ``w // 12`` over one stream of random letter words (a fifth of them
    stop words, so the docs pass the quality gate). Each doc has a
    Jaccard over 5-char shingles of about 0.85 with its neighbours and
    about 0.75 with docs two steps away, so the pair graph is mostly a
    path. The shared-vocabulary soup cannot make paths: its shingle
    sets overlap so much that every chain would collapse to a clique."""
    w = int(rng.integers(70, 90))
    step = w // 12
    n = w + step * (n_nodes - 1)
    words = ["".join(rng.choice(_LETTERS, int(k)))
             for k in rng.integers(3, 8, size=n)]
    stop = rng.choice(_STOP, n)
    words = [s if r < 0.2 else x
             for x, s, r in zip(words, stop, rng.random(n))]
    return [" ".join(words[i * step:i * step + w]) for i in range(n_nodes)]


def corpus(
    n_docs: int,
    seed: int,
    near_dup_frac: float = 0.06,
    exact_dup_frac: float = 0.01,
) -> pd.DataFrame:
    """``n_docs`` documents. ``near_dup_frac`` of them form near-duplicate
    chains of 2 to 6 docs (see ``_chain``); paths of 5 or more nodes are
    the shape on which the connected-components early exit of ROADMAP
    Fix-first 1 can split a cluster, and long paths make its loop run
    several rounds. ``exact_dup_frac`` of them repeat another doc's
    text verbatim; the rest are independent docs."""
    rng = np.random.default_rng([seed, 0xD0C5])
    n_near = int(n_docs * near_dup_frac)
    n_exact = int(n_docs * exact_dup_frac)
    n_orig = n_docs - n_near - n_exact

    langs = rng.integers(0, len(LANGS), size=n_orig)
    sizes = rng.integers(8, 90, size=n_orig)
    words = [_doc_words(rng, int(l), int(n)) for l, n in zip(langs, sizes)]
    texts = [" ".join(w) for w in words]
    doc_lang = [LANGS[int(l)] for l in langs]

    left = n_near
    while left:
        chain = _chain(rng, min(left, int(rng.integers(2, 7))))
        texts += chain
        doc_lang += [LANGS[int(rng.integers(0, len(LANGS)))]] * len(chain)
        left -= len(chain)
    for src in rng.integers(0, n_orig, size=n_exact):
        texts.append(texts[int(src)])
        doc_lang.append(doc_lang[int(src)])

    # ids in seeded order, so copies are not adjacent to their originals
    ids = rng.permutation(n_docs).astype(np.int64)
    return (
        pd.DataFrame(
            {
                "doc_id": ids,
                "text": texts,
                "lang": doc_lang,
                "source": [f"src{i % 7}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def write_corpus(path: str, df: pd.DataFrame) -> None:
    """One parquet file, like the driver's ``documents.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
