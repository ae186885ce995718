"""BPE tokenizer training pinned against a from-scratch pure-Python
reference (Sennrich et al. 2016 learn_bpe semantics, our deterministic
(count desc, pair asc) tie-break) — the union-find-vs-star-contraction
pinning pattern from test_graph.py — plus the encoder against the
pure-Python training-order replay, the greedy-overlap corner and the
trainer's barrier policy."""

from __future__ import annotations

import re

from clickhouse_realtime_analytics_demo_spark.operators import bpe
from clickhouse_realtime_analytics_demo_spark.operators.bpe import (
    END_MARKER,
    WORD_PATTERN,
    segment_words_rank,
    train_bpe,
    word_counts,
)

# ------------------------------------------------ pure-Python reference


def reference_word_counts(texts, pattern=WORD_PATTERN):
    wc: dict[str, int] = {}
    for t in texts:
        for w in re.findall(pattern, t.lower()):
            wc[w] = wc.get(w, 0) + 1
    return wc


def reference_train_bpe(wc, num_merges, end_marker=END_MARKER):
    words = {tuple(list(w) + [end_marker]): c for w, c in wc.items()}
    merges = []
    for k in range(num_merges):
        stats: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + c
        if not stats:
            break
        (l, r), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((k + 1, l, r, l + r, c))
        new_words: dict[tuple[str, ...], int] = {}
        for syms, cnt in words.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + cnt
        words = new_words
    return merges


def reference_segment(word, merges, end_marker=END_MARKER):
    syms = list(word) + [end_marker]
    for _, l, r, m, _ in sorted(merges):
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(m)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# ------------------------------------------------------------------ tests

FIXTURE = [
    "low low low lower lower lowest",
    "new newer newest newest newest wide",
    "wider widest wide wide new low",
    "the newest widget is newer than the widest one",
]


def test_fixture_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    got = train_bpe(docs, 20)
    want = reference_train_bpe(reference_word_counts(FIXTURE), 20)
    assert got == want


def test_sf0001_documents_match_reference(spark):
    import pyarrow.parquet as pq

    texts = [
        t for t in pq.read_table("/root/testdata/sf0.001/documents.parquet")
        .column("text").to_pylist() if t is not None
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = train_bpe(docs, 24)
    want = reference_train_bpe(reference_word_counts(texts), 24)
    assert got == want


def test_greedy_overlap_runs(spark):
    # "aaaa" under merge (a,a) must become [aa, aa, </w>] — the fold's
    # just-merged tail must not re-merge with the next element.
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id bigint, text string"
    )
    merges = train_bpe(docs, 2)
    want = reference_train_bpe(reference_word_counts(["aaaa aaaa aaa"]), 2)
    assert merges == want
    # (a,a) pair count over {aaaa:2, aaa:1}: overlapping adjacent
    # occurrences all count (3*2 + 2*1 = 8)
    assert merges[0][1:] == ("a", "a", "aa", 8)
    # after merge 1, aaaa -> [aa,aa,</w>] x2 and aaa -> [aa,a,</w>]:
    # (aa,aa) and (aa,</w>) tie at 2; '<' (0x3C) < 'a' so the marker
    # pair wins the lexicographic tie-break
    assert merges[1][1:] == ("aa", "</w>", "aa</w>", 2)


def test_early_stop_no_pairs(spark):
    # single-letter words reduce to 2-symbol [c, </w>] words; after
    # merging each with the marker there are no pairs left
    docs = spark.createDataFrame([(1, "a b a")], "doc_id bigint, text string")
    merges = train_bpe(docs, 10)
    assert len(merges) == 2
    assert {m[3] for m in merges} == {"a</w>", "b</w>"}


def test_segment_words_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    merges = train_bpe(docs, 12)
    vocab = ["lowest", "newest", "widest", "low", "new", "unseen"]
    words = spark.createDataFrame([(w,) for w in vocab], "word string")
    got = {r["word"]: r["bpe"] for r in segment_words_rank(words, merges).collect()}
    for w in vocab:
        assert got[w] == reference_segment(w, merges), w


def test_rank_encoder_matches_fold_replay_fixture(spark):
    # the rank-priority encoder against the training-order fold replay
    # (reference_segment) on the fixture table, including the
    # overlapping-run words aaaa/aa
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    merges = train_bpe(docs, 12)
    vocab = ["lowest", "newest", "widest", "low", "new", "unseen", "aaaa", "aa"]
    words = spark.createDataFrame([(w,) for w in vocab], "word string")
    rank = {r["word"]: r["bpe"] for r in segment_words_rank(words, merges).collect()}
    fold = {w: reference_segment(w, merges) for w in vocab}
    assert rank == fold


def test_segment_words_matches_reference_corpus(spark):
    # trained table over the sf0.001 corpus, encoded over its own word
    # vocabulary: the rank-priority encoder must equal the training-
    # order replay bit-for-bit on every word
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = train_bpe(docs, 24)
    words = word_counts(docs).select("word")
    got = {r["word"]: r["bpe"] for r in segment_words_rank(words, merges).collect()}
    assert len(got) > 0
    for w, pieces in got.items():
        assert pieces == reference_segment(w, merges), w


def test_iteration_plan_shape(spark):
    # the registered query returns the driver-built merge table, so the
    # registry-level plan snapshot sees only a LocalTableScan; THIS is
    # where the per-iteration plan contract is locked: the pair count
    # is a partially-aggregated explode (no join, no Python node), the
    # rewrite is a pure map-side Project (no exchange at all).
    from pyspark.sql import functions as F

    from clickhouse_realtime_analytics_demo_spark.operators.bpe import _merge_fold

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = word_counts(docs).select(
        F.concat(
            F.expr("regexp_extract_all(word, '.', 0)"), F.array(F.lit(END_MARKER))
        ).alias("syms"),
        "cnt",
    )
    pairs = (
        words.filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("cnt").alias("c"))
    )
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PythonExec" not in plan and "EvalPython" not in plan
    assert "HashAggregate" in plan
    rewrite = words.withColumn("syms", _merge_fold(F.col("syms"), "t", "h"))
    rplan = rewrite._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in rplan and "Join" not in rplan


# ------------------------------------------- batched training (r9 scale path)


def reference_train_bpe_batched(
    wc, num_merges, batch_size, end_marker=END_MARKER, exact_counts=True
):
    """Independent single-threaded twin of train_bpe's batched rule:
    per round, greedy rank-order selection under pairwise symbol
    disjointness (or the whole ranked batch when exact_counts=False),
    then apply all selected merges sequentially in rank order."""
    words = {tuple(list(w) + [end_marker]): c for w, c in wc.items()}
    merges = []
    while len(merges) < num_merges:
        stats: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + c
        if not stats:
            break
        ranked = sorted(stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        used: set[str] = set()
        picked = []
        for (l, r), c in ranked[: max(4 * batch_size, 64)]:
            if len(picked) >= min(batch_size, num_merges - len(merges)):
                break
            if exact_counts:
                # mirror of the operator's rule incl. the merged symbol
                # (ADVICE r9: blocks ('a','b') + ('ab','c') in one round)
                if l in used or r in used or (l + r) in used:
                    continue
                used.update((l, r, l + r))
            picked.append((l, r, c))
        if not picked:
            (l, r), c = ranked[0]
            picked = [(l, r, c)]
        for l, r, c in picked:
            merges.append((len(merges) + 1, l, r, l + r, c))
            new_words: dict[tuple[str, ...], int] = {}
            for syms, cnt in words.items():
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                key = tuple(out)
                new_words[key] = new_words.get(key, 0) + cnt
            words = new_words
    return merges


def test_batched_matches_reference(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    wc = reference_word_counts(FIXTURE)
    for bs in (2, 4, 8):
        got = train_bpe(docs, 16, batch_size=bs)
        want = reference_train_bpe_batched(wc, 16, bs)
        assert got == want, bs


def test_batched_matches_reference_sf0001(spark):
    import pyarrow.parquet as pq

    texts = [
        t for t in pq.read_table("/root/testdata/sf0.001/documents.parquet")
        .column("text").to_pylist() if t is not None
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = train_bpe(docs, 24, batch_size=6)
    want = reference_train_bpe_batched(reference_word_counts(texts), 24, 6)
    assert got == want


def _round_ends(st: dict) -> set[int]:
    ends, n = set(), 0
    for picks in st["picks_per_round"]:
        n += picks
        ends.add(n)
    return ends


def test_batched_fold_checkpoint_invariant(spark, monkeypatch):
    """r10: the in-round fold checkpoint only bounds expression depth —
    it must not change results (merges apply in rank order either
    way). Also pins the stats instrumentation."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    st_deep: dict = {}
    st_ckpt: dict = {}
    monkeypatch.setattr(bpe, "FOLD_CHECKPOINT_EVERY", 10**9)
    deep = train_bpe(docs, 16, batch_size=8, stats=st_deep)
    monkeypatch.setattr(bpe, "FOLD_CHECKPOINT_EVERY", 2)
    ckpt = train_bpe(docs, 16, batch_size=8, stats=st_ckpt)
    assert deep == ckpt
    # without the in-round valve every barrier sits at a round end
    assert set(st_deep["barriers"]) <= _round_ends(st_deep)
    assert len(set(st_ckpt["barriers"]) - _round_ends(st_ckpt)) >= 2
    assert st_deep["rounds"] == st_ckpt["rounds"] == len(st_deep["picks_per_round"])
    assert sum(st_deep["picks_per_round"]) == 16


def test_barrier_policy(spark):
    """One fixed barrier policy: stacked folds carry across rounds, a
    round end materializes only once 3 are stacked, and nothing is
    materialized after the final merge (no reader)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    st: dict = {}
    assert len(train_bpe(docs, 12, stats=st)) == 12
    assert st["barriers"] == [3, 6, 9]
    sf_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    st = {}
    merges = train_bpe(sf_docs, 24, batch_size=6, stats=st)
    assert len(merges) == 24 and st["rounds"] >= 2
    assert st["barriers"] and len(merges) not in st["barriers"]
    assert set(st["barriers"]) <= _round_ends(st)


def test_batched_merged_symbol_disjointness(spark):
    """ADVICE r9: no round may pick a pair whose symbol equals an
    earlier pick's MERGED symbol (or vice versa) — the fold of the
    earlier pick creates/consumes those symbols, making the recorded
    count stale at application time. Verified structurally over the
    fixture and sf-corpus runs: within every round, no pair shares a
    literal symbol with another pick's pair OR merged output."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    st: dict = {}
    merges = train_bpe(docs, 16, batch_size=8, stats=st)
    i = 0
    for picks in st["picks_per_round"]:
        batch = merges[i : i + picks]
        i += picks
        used: set[str] = set()
        for _, l, r, merged, _ in batch:
            assert l not in used and r not in used and merged not in used
            used.update((l, r, merged))
    assert i == len(merges)


def test_batched_relaxed_matches_reference(spark):
    """r10: exact_counts=False fills every round with the full ranked
    batch (no disjointness filter) and applies in rank order — the
    production-merge-count mode the 1k-merge SCALEPROBE motivated
    (disjoint picks cap out at ~O(|alphabet|)/round early in training).
    Pinned against the same-rule pure-Python twin, and the round count
    must actually collapse to ~num_merges/batch_size."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE)], "doc_id bigint, text string"
    )
    wc = reference_word_counts(FIXTURE)
    for bs in (4, 8):
        st: dict = {}
        got = train_bpe(docs, 16, batch_size=bs, exact_counts=False, stats=st)
        want = reference_train_bpe_batched(wc, 16, bs, exact_counts=False)
        assert got == want, bs
        # every round fills its batch (until merges run out / pool dries)
        assert st["rounds"] <= -(-16 // bs) + 1, st


def test_batched_relaxed_matches_reference_sf0001(spark):
    import pyarrow.parquet as pq

    texts = [
        t for t in pq.read_table("/root/testdata/sf0.001/documents.parquet")
        .column("text").to_pylist() if t is not None
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    st: dict = {}
    got = train_bpe(docs, 32, batch_size=8, exact_counts=False, stats=st)
    want = reference_train_bpe_batched(
        reference_word_counts(texts), 32, 8, exact_counts=False
    )
    assert got == want
    assert st["rounds"] == 4  # 32/8 exactly — the relaxed mode's point


# ------------------------------------------- rank-priority encoder (r10)


def test_rank_encoder_greedy_overlap_corner(spark):
    # (a,a) on "aaaa": left-to-right non-overlap -> [aa, aa], and with
    # (aa,aa) ranked next the rank loop continues to [aaaa]
    words = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
    one = [(0, "a", "a", "aa", 0)]
    got = {r["word"]: r["bpe"] for r in segment_words_rank(words, one).collect()}
    assert got["aaaa"] == ["aa", "aa", END_MARKER]
    assert got["aaa"] == ["aa", "a", END_MARKER]
    two = one + [(1, "aa", "aa", "aaaa", 0)]
    got = {r["word"]: r["bpe"] for r in segment_words_rank(words, two).collect()}
    assert got["aaaa"] == ["aaaa", END_MARKER]


def test_rank_encoder_partition_invariant(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = train_bpe(docs, 12)
    words = word_counts(docs).select("word")
    a = {
        r["word"]: r["bpe"]
        for r in segment_words_rank(words.repartition(1), merges).collect()
    }
    b = {
        r["word"]: r["bpe"]
        for r in segment_words_rank(words.repartition(13), merges).collect()
    }
    assert a == b


def test_segment_query_matches_reference(spark):
    # the registered encode query's segmentation stats, recomputed in
    # pure Python from the sequential reference trainer and the
    # training-order replay encoder
    import pyarrow.parquet as pq

    from clickhouse_realtime_analytics_demo_spark.queries import all_queries
    from clickhouse_realtime_analytics_demo_spark.queries.llmops import _BPE_MERGES

    sf = "/root/testdata/sf0.001"
    texts = [
        t for t in pq.read_table(f"{sf}/documents.parquet")
        .column("text").to_pylist() if t is not None
    ]
    wc = reference_word_counts(texts)
    merges = reference_train_bpe(wc, _BPE_MERGES)
    stats: dict[int, list[int]] = {}
    for w, c in wc.items():
        agg = stats.setdefault(len(reference_segment(w, merges)), [0, 0])
        agg[0] += 1
        agg[1] += c
    want = [(n, words, occ) for n, (words, occ) in sorted(stats.items())]
    got = [tuple(r) for r in all_queries()["doc_bpe_segment"].fn(spark, sf).collect()]
    assert got == want and len(got) > 0
