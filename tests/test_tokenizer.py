"""BPE tokenizer training (operators/tokenizer.py) vs a pure-Python
classic BPE reference (Sennrich-style merge learning over word counts),
plus the sentinel-string edge cases the replace scheme must survive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.operators import tokenizer as BPE


# -- pure-Python reference (classic list-of-symbols BPE) --------------------

def _ref_pairs(words: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for syms, freq in words.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + freq
    return counts


def _ref_merge(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def ref_bpe(word_freq: dict[str, int], n_merges: int):
    """Classic BPE: greedy left-to-right merge, argmax tie-broken by
    (count DESC, lhs ASC, rhs ASC) — the engine's exact ordering."""
    state = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for _ in range(n_merges):
        counts = _ref_pairs(state)
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        state = {_ref_merge(s, a, b): f for s, f in state.items()}
    return merges, state


def _docs(spark, texts: list[str]):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def _word_freq(texts: list[str]) -> dict[str, int]:
    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1
    return freq


# Adversarial corpus: repeated runs (greedy left-to-right within a run),
# multi-char-symbol boundaries (after (x,a) merges, "|a||b|" must not
# match inside "|xa||b|"), single-char words, shared prefixes/suffixes.
TEXTS = [
    "aaa abab xab xa xa xa ab ab banana bananas",
    "xab xab a b aa aaaa low lower lowest newest widest",
    "banana band bandana abba xa ab aab baa a a a",
    "the the the them theme than then xab abab aaa",
]


def test_train_matches_python_reference(spark):
    merges, state = BPE.train_bpe(_docs(spark, TEXTS), n_merges=12)
    ref_merges, ref_state = ref_bpe(_word_freq(TEXTS), 12)
    assert [(m["lhs"], m["rhs"], m["pair_count"]) for m in merges] == ref_merges
    got = {
        r["word"]: tuple(r["syms"])
        for r in state.select(
            "word", F.split(F.btrim("s", F.lit("|")), r"\|\|").alias("syms")
        ).collect()
    }
    assert got == {"".join(s): s for s in ref_state}


def test_encode_reconstructs_words(spark):
    """Concatenating a word's final symbols must reproduce the word —
    the replace scheme never corrupts symbol boundaries."""
    _, state = BPE.train_bpe(_docs(spark, TEXTS), n_merges=12)
    bad = state.select(
        "word",
        F.array_join(F.split(F.btrim("s", F.lit("|")), r"\|\|"), "").alias("re"),
    ).filter(F.col("word") != F.col("re"))
    assert bad.count() == 0


def test_early_stop_when_fully_merged(spark):
    """Single-char words only → no adjacent pairs → zero merges, no
    crash, state intact."""
    merges, state = BPE.train_bpe(_docs(spark, ["a b c d e", "a b c"]),
                                  n_merges=50)
    assert merges == []
    assert state.count() == 5


def test_encode_doc_counts(spark):
    docs = _docs(spark, TEXTS)
    merges, state = BPE.train_bpe(docs, n_merges=12)
    enc = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in BPE.encode_docs(docs, state).collect()}
    ref_merges, ref_state = ref_bpe(_word_freq(TEXTS), 12)
    ref_enc = {"".join(s): len(s) for s in ref_state}
    for i, t in enumerate(TEXTS):
        words = t.split()
        assert enc[i] == (len(words), sum(ref_enc[w] for w in words))


def test_word_counts_filters(spark):
    """Non-ASCII and '|'-bearing words are excluded from training on
    both engines (the sentinel/collation eligibility predicate)."""
    wc = {r["word"]: r["freq"]
          for r in BPE.word_counts(
              _docs(spark, ["ok héllo a|b ok  ok", "ok"])).collect()}
    assert wc == {"ok": 4}


def test_batched_m1_equals_classic(spark):
    """batched(M=1) must be bit-identical to the classic sequential
    path — same merges, same ranks, same final word state."""
    a_m, a_state = BPE.train_bpe(_docs(spark, TEXTS), n_merges=12, batch_size=1)
    b_m, b_state = BPE.train_bpe(_docs(spark, TEXTS), n_merges=12, batch_size=1,
                                 stats={})
    # and the shared-code-path sanity: batch machinery with M=1 selects
    # exactly the classic argmax each round
    assert [tuple(r) for r in a_m] == [tuple(r) for r in b_m]
    sa = sorted((r.word, r.s) for r in a_state.collect())
    sb = sorted((r.word, r.s) for r in b_state.collect())
    assert sa == sb


def test_batched_job_count_reduction(spark):
    """A 512-merge demo with M=64 must use >=10x fewer driver rounds
    than classic's 512 (round-4 verdict task 5 'done' bar)."""
    # synthetic corpus rich enough to sustain 512 merges: distinct words
    # with heavy shared substructure
    words = [f"w{i:04d}end{i % 7}" for i in range(3000)]
    texts = [" ".join(words[i::8]) for i in range(8)]
    stats: dict = {}
    merges, _ = BPE.train_bpe(_docs(spark, texts), n_merges=512,
                              batch_size=64, stats=stats)
    assert len(merges) == 512
    assert stats["rounds"] <= 512 // 10, f"rounds={stats['rounds']}"


def test_batched_checkpoints_count_merges(spark, monkeypatch):
    """Lineage is cut by merges, not rounds: between two checkpoints a
    batch-8 run stacks fewer than CHECKPOINT_EVERY + 8 nested replaces,
    and never checkpoints before CHECKPOINT_EVERY merges."""
    words = [f"w{i:04d}end{i % 7}" for i in range(3000)]
    docs = _docs(spark, [" ".join(words[i::8]) for i in range(8)])
    calls = []
    real = type(docs).localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", counted)
    merges, _ = BPE.train_bpe(docs, n_merges=64, batch_size=8)
    in_loop = len(calls) - 1  # the first materializes the word table
    every = BPE.CHECKPOINT_EVERY
    assert len(merges) == 64
    assert len(merges) // (every + 8 - 1) <= in_loop <= len(merges) // every


def test_batched_merges_commute_with_sequential_application(spark):
    """Within one batched round the selected pairs share no symbols, so
    applying the batch in one pass must equal replaying the same merges
    sequentially through the reference merger."""
    texts = TEXTS
    merges, state = BPE.train_bpe(_docs(spark, texts), n_merges=10,
                                  batch_size=4)
    # replay this exact merge sequence through the python reference
    ref_state = {tuple(w): f for w, f in _word_freq(texts).items()}
    for r in merges:
        ref_state = {_ref_merge(s, r.lhs, r.rhs): f
                     for s, f in ref_state.items()}
    got = {r.word: tuple(r.s.strip("|").split("||")) for r in state.collect()}
    want = {"".join(syms): syms for syms in ref_state}  # word text -> symbols
    assert got == {w: want[w] for w in got}
