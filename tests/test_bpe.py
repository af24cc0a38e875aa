"""BPE merge learning (operators/bpe.py): the classic reference
walk-through, a pure-python greedy replica on random words, and the
overlap-run edge case the islands-parity logic exists for."""

import pytest
from faust_spark.operators.bpe import END, bpe_learn, word_counts


def _py_bpe(freqs: dict[str, int], n_merges: int):
    """Reference implementation: get_stats + greedy merge, straight
    from the published algorithm."""
    seqs = {w: list(w) + [END] for w in freqs}
    merges = []
    for _ in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                stats[pair] = stats.get(pair, 0) + freqs[w]
        if not stats:
            break
        (a, b), f = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, f))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges


def _learn(spark, freqs, n):
    words = spark.createDataFrame(
        list(freqs.items()), "word string, cnt long"
    )
    return bpe_learn(words, n_merges=n)


def test_bpe_classic_walkthrough(spark):
    """Sennrich et al.'s worked example: es -> est -> est</w> first."""
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    got = _learn(spark, freqs, 6)
    assert got == _py_bpe(freqs, 6)
    assert got[0][:2] == ("e", "s")
    assert got[1][:2] == ("es", "t")
    assert got[2][:2] == ("est", END)


def test_bpe_overlap_runs(spark):
    """Greedy left-to-right on same-symbol runs: 'aaaa' merges to
    (aa)(aa), 'aaa' to (aa)a — the parity case a naive positional
    merge gets wrong."""
    freqs = {"aaaa": 3, "aaa": 2, "ab": 1}
    got = _learn(spark, freqs, 3)
    want = _py_bpe(freqs, 3)
    assert got == want
    # first merge is (a, a) with overlap-counted freq 3*3 + 2*2 = 13
    assert got[0] == ("a", "a", 13)
    # second iteration must see 'aaaa' as [aa, aa] and 'aaa' as
    # [aa, a] — the candidate pairs are then (aa, aa) f=3 and
    # (aa, </w>) f=3, and the lexicographic tie-break picks
    # (aa, </w>) because '<' sorts before 'a'; the parity bug this
    # guards against ([a, aa] / double-consumed runs) would instead
    # surface (a, aa) or an inflated (aa, aa) count
    assert got[1] == ("aa", END, 3)
    # after which 'aaaa' is [aa, aa</w>] and that pair (f=3) wins
    assert got[2] == ("aa", "aa" + END, 3)


def test_bpe_random_words_match_reference(spark):
    import random

    rng = random.Random(17)
    freqs = {
        "".join(
            rng.choice("abcde") for _ in range(rng.randint(1, 7))
        ): rng.randint(1, 9)
        for _ in range(60)
    }
    assert _learn(spark, freqs, 8) == _py_bpe(freqs, 8)


def test_word_counts_normalizes(spark):
    docs = spark.createDataFrame(
        [(1, "The the THE x9 foo"), (2, "foo  bar")],
        "doc_id long, text string",
    )
    got = {
        r["word"]: r["cnt"]
        for r in word_counts(docs).collect()
    }
    # lowercased, non-[a-z] words (x9, '') dropped
    assert got == {"the": 3, "foo": 2, "bar": 1}


def test_bpe_segment_frozen_merges(spark):
    """bpe_segment applies a frozen merge list to a NEW dictionary
    (words unseen at training) with the same greedy semantics, and
    reproduces bpe_fit's own segmentation on the training dict."""
    from faust_spark.operators.bpe import bpe_fit, bpe_segment

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(
        list(freqs.items()), "word string, cnt long"
    )
    merges, sym = bpe_fit(words, n_merges=4)
    re_seg = {
        r["word"]: r["syms"]
        for r in bpe_segment(words, merges).collect()
    }
    assert re_seg == {r["word"]: r["syms"] for r in sym.collect()}
    # unseen word: 'lowest' gets est</w> and lo from the frozen merges
    new = spark.createDataFrame([("lowest", 1)], "word string, cnt long")
    (seg,) = bpe_segment(new, merges).collect()
    assert "est" + END in seg["syms"] or "est" in seg["syms"]
    assert seg["syms"][0] in ("lo", "l")


@pytest.mark.slow
def test_bpe_driver_path_matches_distributed(spark, monkeypatch):
    """The driver-side fast path (_bpe_fit_driver) and the distributed
    merge loop produce IDENTICAL merge trajectories and final
    segmentations — including overlap counting (a-runs), the
    (freq DESC, lexicographic) argmax, and greedy non-overlapping
    application."""
    import random

    from faust_spark.operators import bpe
    from faust_spark.operators.bpe import bpe_fit

    on_driver = []
    driver_fit = bpe._bpe_fit_driver

    def spy(*args):
        on_driver.append(args)
        return driver_fit(*args)

    monkeypatch.setattr(bpe, "_bpe_fit_driver", spy)
    rng = random.Random(7)
    alpha = "abcde"
    for trial in range(3):
        words = [
            (
                "".join(
                    rng.choice(alpha)
                    for _ in range(rng.randint(1, 8))
                ),
                rng.randint(1, 9),
            )
            for _ in range(30)
        ]
        # dedup words, keep first cnt
        seen: dict = {}
        for w, c in words:
            seen.setdefault(w, c)
        df = spark.createDataFrame(
            list(seen.items()), "word string, cnt long"
        )
        m_drv, s_drv = bpe_fit(df, n_merges=6)
        with monkeypatch.context() as mp:
            mp.setattr(bpe, "_DRIVER_DICT_MAX", 0)
            m_dist, s_dist = bpe_fit(df, n_merges=6)
        assert m_drv == m_dist, f"trial {trial}"
        d1 = {
            r["word"]: (r["cnt"], list(r["syms"]))
            for r in s_drv.collect()
        }
        d2 = {
            r["word"]: (r["cnt"], list(r["syms"]))
            for r in s_dist.collect()
        }
        assert d1 == d2, f"trial {trial}"
    # only the three default fits merged on the driver
    assert len(on_driver) == 3
