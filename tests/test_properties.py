"""Property-based tests (hypothesis): algebraic invariants that must
hold for ANY data, not just the synthetic fixtures — salting never
changes an aggregate, pack/unpack round-trips, scores stay bounded,
LSH bucketing never separates identical vectors."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sentiflow_spark.functions.numeric import MONEY
from sentiflow_spark.functions import text as T
from sentiflow_spark.functions.text import quality_score
from sentiflow_spark.functions.vectors import rp_bucket, rp_hyperplanes
from sentiflow_spark.operators.skew import salted_aggregate

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # hot key space
        st.integers(min_value=-10_000, max_value=10_000),
    ),
    min_size=1,
    max_size=60,
)


@SETTINGS
@given(rows=rows_strategy, n_salts=st.integers(min_value=1, max_value=8))
def test_salted_aggregate_equals_plain(spark, rows, n_salts):
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast(MONEY)).alias("s"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"])
        for r in salted_aggregate(
            df,
            keys=["k"],
            partial_aggs={"_pn": F.count(F.lit(1)), "_ps": F.sum(F.col("v").cast(MONEY))},
            final_aggs={"n": F.sum("_pn"), "s": F.sum("_ps")},
            n_salts=n_salts,
            salt_on=["v"],
        ).collect()
    }
    assert salted == plain


@SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\x00"
            ),
            max_size=200,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_quality_score_bounded(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    scores = [r["q"] for r in df.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)


@SETTINGS
@given(
    vec=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=8, max_size=8
    )
)
def test_rp_bucket_identical_vectors_collide(spark, vec):
    """LSH soundness: equal vectors are ALWAYS in the same bucket (so
    exact duplicates can never be missed)."""
    planes = rp_hyperplanes(4, 8)
    df = spark.createDataFrame([(1, vec), (2, list(vec))], ["id", "qvec"])
    got = df.select(rp_bucket(F.col("qvec").cast("array<long>"), planes).alias("b")).collect()
    assert got[0]["b"] == got[1]["b"]
    assert 0 <= got[0]["b"] < 16


def test_nested_pack_unpack_roundtrip(spark, sf_dir):
    """pl_nested_flatten's core invariant at fixture scale: pack into
    array-of-structs then explode loses nothing."""
    from sentiflow_spark.queries.registry import load_all

    flat = load_all()["pl_nested_flatten"].fn(spark, sf_dir)
    from sentiflow_spark.tables import load

    base = load(spark, sf_dir, "events").select("event_type", "event_id", "user_id")
    assert flat.exceptAll(base).count() == 0
    assert base.exceptAll(flat).count() == 0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed pointer-jumping CC must equal a driver union-find
    on arbitrary random graphs (chains, cycles, stars — not just the
    near-clique clusters LSH produces)."""
    from sentiflow_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a: long, doc_b: long")
    got = {
        r["node"]: r["lbl"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_connected_components_long_chain(spark):
    """A 40-node path graph: worst-case diameter for label
    propagation; pointer jumping must still converge inside the
    iteration cap and label every node with the chain's minimum."""
    from sentiflow_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(40)]
    labels = connected_components(
        spark.createDataFrame(chain, "doc_a: long, doc_b: long")
    )
    assert {r["lbl"] for r in labels.collect()} == {0}


@SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("L", "N", "P", "S", "Z")
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_repair_llm_json_invariants(spark, texts):
    """P7 repair for ANY input string: the output is either the empty
    sentinel or brace-delimited with no curly quotes, and repair is
    idempotent (repair∘repair = repair) — the properties the
    reference's parse path depends on before json.Unmarshal."""
    from sentiflow_spark.pipeline.topics import repair_llm_json

    df = spark.createDataFrame([(t,) for t in texts], "raw string")
    once = repair_llm_json(F.col("raw")).alias("r1")
    out = df.select(
        F.col("raw"),
        once,
        repair_llm_json(F.col("r1")).alias("r2"),
    )
    for row in out.collect():
        r1, r2 = row["r1"], row["r2"]
        assert r2 == r1  # idempotent
        assert "“" not in r1 and "”" not in r1
        if r1 != "":
            assert r1.startswith("{") and r1.endswith("}")
        else:
            # empty only when the input truly has no {...} span
            s = row["raw"].strip().translate({0x201C: '"', 0x201D: '"'})
            first, last = s.find("{"), s.rfind("}")
            assert first == -1 or last == -1 or last <= first


texts_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("abcdefgh "),
        min_size=1,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(texts=texts_strategy, seg=st.integers(min_value=1, max_value=7))
def test_segment_dedup_invariants(spark, texts, seg):
    """For ANY corpus and segment width: (1) every distinct segment
    survives exactly once across the corpus (sum of kept = distinct
    segment count), (2) kept <= total per doc, (3) a doc identical to
    an earlier doc keeps nothing, (4) the earliest doc reconstructs to
    itself (all its segments are first occurrences... only when it has
    no internal duplicate segments — checked via its own distinct
    count)."""
    from sentiflow_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {r["doc_id"]: r for r in segment_dedup(df, seg_chars=seg).collect()}
    segments = {}  # seg value -> first (doc_id, seg_no)
    per_doc = {}
    for i, t in enumerate(texts):
        chunks = [t[j : j + seg] for j in range(0, max(len(t), 1), seg)] or [""]
        per_doc[i] = chunks
        for no, c in enumerate(chunks):
            segments.setdefault(c, (i, no))
    assert sum(r["n_kept"] for r in out.values()) == len(segments)
    for i, chunks in per_doc.items():
        r = out[i]
        assert r["n_total"] == len(chunks)
        assert 0 <= r["n_kept"] <= r["n_total"]
        expected = "".join(
            c for no, c in enumerate(chunks) if segments[c] == (i, no)
        )
        assert r["text_dedup"] == expected


@SETTINGS
@given(
    base=st.text(alphabet=st.sampled_from("abcd "), min_size=10, max_size=60),
)
def test_containment_of_prefix_doc_is_one(spark, base):
    """A document whose shingle set is a subset of another's must have
    containment exactly 1.0 in that direction — the asymmetric signal
    dd_containment_pairs exists for."""
    from sentiflow_spark.operators.dedup import exploded_shingles

    words = [w for w in base.split() if w]
    if len(words) < 3:
        return  # no shingles to compare
    short = " ".join(words)
    long_doc = short + " zz yy xx ww vv uu"
    df = spark.createDataFrame([(0, short), (1, long_doc)], ["doc_id", "text"])
    sh = {
        (r["doc_id"], r["shingle"]) for r in exploded_shingles(df).collect()
    }
    set_a = {s for d, s in sh if d == 0}
    set_b = {s for d, s in sh if d == 1}
    assert set_a and set_a <= set_b


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(edges=edges_strategy, n_iter=st.integers(min_value=1, max_value=3))
def test_pagerank_int_matches_python_reference(spark, edges, n_iter):
    """The distributed integer PageRank must equal a sequential Python
    reference doing the SAME integer ops for ANY graph — exactness is
    the operator's whole contract (bit-identical across engines and
    cluster sizes)."""
    from sentiflow_spark.operators.dedup import PR_SCALE, pagerank_int

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(pairs, n_iter=n_iter).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    n = len(nodes)
    base = (15 * (PR_SCALE // n)) // 100
    rank = {u: PR_SCALE // n for u in nodes}
    for _ in range(n_iter):
        contrib = {u: rank[u] // len(adj[u]) for u in nodes}
        rank = {
            u: base + (85 * sum(contrib[v] for v in adj[u])) // 100
            for u in nodes
        }
    assert got == rank
    assert all(v > 0 for v in got.values())


def test_curation_funnel_reconciles(spark, sf_dir):
    """Funnel algebra: survivors are non-increasing stage over stage,
    and each stage's dropped equals the previous stage's survivors
    minus its own — the counts must reconcile exactly or the gates are
    not cumulative."""
    from sentiflow_spark.queries.registry import load_all

    rows = sorted(
        load_all()["txt_curation_funnel"].fn(spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    assert rows[0].dropped == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.survivors <= prev.survivors
        assert cur.dropped == prev.survivors - cur.survivors


def test_ewma_matches_direct_convolution(spark, sf_dir):
    """Re-derive every EWMA value in plain Python from the emitted
    (series, bucket, n) rows: the unrolled join must equal the direct
    truncated convolution sum(n[t-j] * 2^-(j+1)) / sum(weights) — and
    equal it EXACTLY, because every term is dyadic."""
    from sentiflow_spark.queries.corpus_queries import EWMA_LAGS
    from sentiflow_spark.queries.registry import load_all

    rows = load_all()["win_ewma_halflife"].fn(spark, sf_dir).collect()
    by_series: dict[str, dict[str, int]] = {}
    for r in rows:
        by_series.setdefault(r.event_type, {})[r.window_start] = r.n
    for r in rows:
        keys = sorted(by_series[r.event_type])
        i = keys.index(r.window_start)
        num = den = 0.0
        for j in range(min(EWMA_LAGS, i + 1)):
            w = 0.5 ** (j + 1)
            num += by_series[r.event_type][keys[i - j]] * w
            den += w
        assert r.ewma == num / den, (r.event_type, r.window_start)


def test_weighted_sample_formula_and_determinism(spark, sf_dir):
    """The sample is a pure function of the data: priorities recompute
    bit-for-bit from the documented hash formula, and two independent
    runs return the identical row set."""
    import hashlib
    import math

    from sentiflow_spark.queries.corpus_queries import WSAMP_SALT
    from sentiflow_spark.queries.registry import load_all

    fn = load_all()["txt_weighted_sample"].fn
    got = sorted(fn(spark, sf_dir).collect())
    again = sorted(fn(spark, sf_dir).collect())
    assert got == again
    for r in got:
        h = int(
            hashlib.md5(f"{WSAMP_SALT}{r.doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (h % 1000000 + 1) / 1000001.0
        assert r.priority == round(-math.log(u) / r.weight, 10)


def test_adaptive_plane_count_matches_duckdb_formula():
    """sim_knn_graph / sim_mutual_knn derive their hyperplane count
    from the corpus size on both engines; the Python formula and the
    SQL mirror (duck_plane_count) must agree for every corpus size —
    including exact power-of-two boundaries where ceil(log2(x)) is the
    only cross-engine risk."""
    import duckdb

    from sentiflow_spark.functions.vectors import (
        adaptive_plane_count,
        duck_plane_count,
    )

    con = duckdb.connect()
    ns = (
        [1, 63, 64, 65, 127, 128, 500, 5000, 100_000, 1_000_000]
        + [64 * 2**k for k in range(1, 27)]  # exact boundaries
        + [64 * 2**k + 1 for k in range(1, 27)]
        + [64 * 2**k - 1 for k in range(1, 27)]
    )
    for n in ns:
        want = adaptive_plane_count(n)
        got = con.execute(f"SELECT {duck_plane_count(str(n))}").fetchone()[0]
        assert got == want, (n, got, want)
    assert adaptive_plane_count(500) == 4      # sf0.001/sf0.01 corpora
    assert adaptive_plane_count(5000) == 7     # sf0.1 bench corpus
    assert adaptive_plane_count(100_000) == 11  # the 20x probe corpus


def test_winnowing_guarantee_shared_substring_yields_shared_fingerprint(spark):
    """Robust winnowing's core guarantee (Schleimer et al. 2003): any
    shared substring of length >= k + w - 1 contributes at least one
    identical selected fingerprint HASH to both documents — regardless
    of where the substring sits in either document."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_POS_BASE,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog near the bank"
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    docs = [
        (1, "AAAA completely unrelated prefix text here " + shared),
        (2, shared + " zzz a different suffix entirely, nothing alike"),
        (3, "no overlap with either of the other documents at all xq"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = {
        r.doc_id: {
            (key + WINNOW_POS_BASE - 1) // WINNOW_POS_BASE for key in r.fps
        }
        for r in winnow_fingerprints(df).collect()
    }
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    # determinism: same text -> same fingerprint set
    again = {
        r.doc_id: {
            (key + WINNOW_POS_BASE - 1) // WINNOW_POS_BASE for key in r.fps
        }
        for r in winnow_fingerprints(df).collect()
    }
    assert fps == again


def test_unpacked_positions_unique(spark):
    """_unpacked_positions emits unique (id, h, pos) triples WITHOUT an
    explicit distinct: winnow_fingerprints returns one array_distinct
    fps array per doc and the packed key unpacks bijectively, so the
    exploded stream cannot repeat a triple when each input id appears
    once. Pins the invariant the r12 removal of the operator's no-op
    ``distinct()`` (one saved exchange per pin materialization) relies
    on — including on self-repetitive text, where the same gram hash
    IS selected at many positions of one document."""
    from sentiflow_spark.operators.dedup import _unpacked_positions

    rep = "spam spam spam spam wonderful spam lovely spam spam spam "
    docs = [
        (1, rep * 12),
        (2, "the quick brown fox jumps over the lazy dog " * 6),
        (3, rep * 3 + " tail differs here " + rep * 3),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pos = _unpacked_positions(df, "text", "doc_id", 5, 4)
    total = pos.count()
    assert total > 0
    assert total == pos.distinct().count()


def test_winnowing_rejects_doc_beyond_position_packing_limit(spark):
    """key = h*BASE - pos is only injective while every gram position
    stays under WINNOW_POS_BASE; a longer document would corrupt
    fingerprints identically in engine and oracle (parity-invisible),
    so the operator must fail loudly instead of silently."""
    import pytest

    from sentiflow_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_POS_BASE,
        winnow_fingerprints,
    )

    max_len = WINNOW_POS_BASE + WINNOW_K - 2
    ok_doc = (1, "ab" * (1000 // 2))
    too_long = (2, "x" * (max_len + 1))
    df = spark.createDataFrame([ok_doc, too_long], "doc_id long, text string")
    with pytest.raises(Exception, match="WINNOW_POS_BASE"):
        winnow_fingerprints(df).collect()
    # at exactly the limit the operator still runs
    at_limit = spark.createDataFrame(
        [(3, "y" * max_len)], "doc_id long, text string"
    )
    assert winnow_fingerprints(at_limit).count() == 1


def test_edit_prefix_pairs_matches_bruteforce_on_adversarial_strings(spark):
    """PassJoin's segment blocking must be recall-lossless: on a
    seeded corpus of near-identical strings (small alphabet, planted
    insert/delete/substitute edits at random positions — the shapes
    that shift segment frames) the operator's pair set must equal the
    brute-force all-pairs filter exactly."""
    import random

    from sentiflow_spark.operators.dedup import (
        EDIT_MAX_DIST,
        EDIT_PREFIX_LEN,
        edit_prefix_pairs,
    )

    rng = random.Random(20260814)
    alpha = "abc"
    L = EDIT_PREFIX_LEN

    def mutate(s, n_edits):
        s = list(s)
        for _ in range(n_edits):
            op = rng.choice("ids")
            p = rng.randrange(len(s))
            if op == "i":
                s.insert(p, rng.choice(alpha))
            elif op == "d" and len(s) > 1:
                del s[p]
            else:
                s[p] = rng.choice(alpha)
        return "".join(s)

    bases = ["".join(rng.choice(alpha) for _ in range(L + 6)) for _ in range(6)]
    texts = [b for b in bases] + [
        mutate(b, rng.randrange(1, 7)) for b in bases for _ in range(4)
    ]
    rows = [(i, t) for i, t in enumerate(texts) if len(t) >= L]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def lev(a, b):
        n, m = len(a), len(b)
        prev = list(range(m + 1))
        for i in range(1, n + 1):
            cur = [i] + [0] * m
            for j in range(1, m + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[m]

    prefs = {i: t[:L].lower() for i, t in rows}
    want = {
        (a, b, lev(prefs[a], prefs[b]))
        for a in prefs
        for b in prefs
        if a < b and lev(prefs[a], prefs[b]) <= EDIT_MAX_DIST
    }
    got = {
        (r.doc_a, r.doc_b, r.lev) for r in edit_prefix_pairs(df).collect()
    }
    assert want, "seeded corpus must produce at least one close pair"
    assert got == want


def test_duplicate_spans_cover_planted_shared_block(spark):
    """ExactSubstr span extraction: a 48-char block planted in two docs
    at different offsets yields a span in EACH doc overlapping the
    planted range; a doc with no cross-doc content yields no span.
    (Lee et al. 2022 semantics: the cut-list covers duplicated
    content wherever it sits, not just aligned duplicates.)"""
    from sentiflow_spark.operators.dedup import winnow_duplicate_spans

    block = "thequickbrownfoxjumpsoverthelazydogagainandmore!"  # 48 chars
    filler_a = "".join(f"q{i % 10}" for i in range(40))   # 80 unique-ish
    filler_b = "".join(f"z{9 - i % 10}" for i in range(40))
    unique = "".join(f"m{i % 7}x" for i in range(40))      # no shared grams
    d1 = filler_a + block + filler_a            # block at 81..128
    d2 = filler_b + filler_b + block            # block at 161..208
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, unique)], "doc_id long, text string"
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in winnow_duplicate_spans(df, min_fps=1).collect()
    }
    assert 3 not in spans
    s1, e1 = spans[1]
    s2, e2 = spans[2]
    # each span overlaps its doc's planted block (1-based char ranges)
    assert s1 <= len(filler_a) + len(block) and e1 >= len(filler_a) + 1
    assert s2 <= len(d2) and e2 >= 2 * len(filler_b) + 1


def test_bpe_pairs_match_python_reference(spark, sf_dir):
    """txt_bpe_pairs vs an independent pure-Python BPE pair count over
    the same parquet: identical top-25 (count desc, pair asc)."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from sentiflow_spark.queries.curation_queries import txt_bpe_pairs

    texts = pq.read_table(f"{sf_dir}/documents.parquet")["text"].to_pylist()
    wf = Counter(
        w for t in texts for w in re.findall("[a-z]+", (t or "").lower())
    )
    pairs: Counter = Counter()
    for w, f in wf.items():
        syms = list(w) + ["</w>"]
        for a, b in zip(syms, syms[1:]):
            pairs[f"{a} {b}"] += f
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [(r["pair"], r["n"]) for r in txt_bpe_pairs(spark, sf_dir).collect()]
    assert got == want


def test_mix_epochs_budget_invariants(spark, sf_dir):
    """Mixing planner: every repeat factor is capped at 4 epochs, no
    source under-runs its fair share when data is plentiful, and the
    total sampled tokens never exceed the budget."""
    from sentiflow_spark.queries.curation_queries import (
        MIX_BUDGET_X,
        MIX_MAX_EPOCHS_PM,
        txt_mix_epochs,
    )

    rows = txt_mix_epochs(spark, sf_dir).collect()
    total = sum(r["tokens"] for r in rows)
    budget = MIX_BUDGET_X * total
    assert all(0 < r["epochs_permille"] <= MIX_MAX_EPOCHS_PM for r in rows)
    assert sum(r["sampled_tokens"] for r in rows) <= budget
    for r in rows:
        # sampled = tokens * epochs // 1000 exactly (integer contract)
        assert r["sampled_tokens"] == r["tokens"] * r["epochs_permille"] // 1000


def test_bpe_learn_first_merge_matches_distributed_pair_count(spark, sf_dir):
    """The driver-side merge loop and the distributed pair count agree:
    bpe_learn's FIRST merge is exactly txt_bpe_pairs' top row (same
    corpus, same count-desc/pair-asc tiebreak), and the classic
    Sennrich toy example learns the published merges."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from sentiflow_spark.functions.text import bpe_learn
    from sentiflow_spark.queries.curation_queries import txt_bpe_pairs

    assert bpe_learn({"low": 5, "lower": 2, "newest": 6, "widest": 3}, 3) == [
        ("e", "s"), ("es", "t"), ("est", "</w>"),
    ]

    texts = pq.read_table(f"{sf_dir}/documents.parquet")["text"].to_pylist()
    wf = Counter(
        w for t in texts for w in re.findall("[a-z]+", (t or "").lower())
    )
    top = txt_bpe_pairs(spark, sf_dir).first()
    assert bpe_learn(dict(wf), 1) == [tuple(top["pair"].split(" "))]


@given(
    data=st.tuples(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=15, max_size=40),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=50),
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_span_guarantee_property(spark, data):
    """Property form of the ExactSubstr detection guarantee: for ANY
    shared block of length >= w + k - 1 planted at ANY offsets (fillers
    drawn from disjoint alphabets so no accidental gram collisions),
    each document emits a duplicate span overlapping its planted
    range."""
    from sentiflow_spark.operators.dedup import winnow_duplicate_spans

    shared, off1, off2 = data
    f1 = "".join("0123"[i % 4] for i in range(off1))
    f2 = "".join("5678"[(i * 3) % 4] for i in range(off2))
    d1 = f1 + shared + f1
    d2 = f2 + f2 + shared + f2
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    spans = winnow_duplicate_spans(df, min_fps=1).collect()
    blocks = {
        1: (len(f1) + 1, len(f1) + len(shared)),
        2: (2 * len(f2) + 1, 2 * len(f2) + len(shared)),
    }
    for doc_id, (lo, hi) in blocks.items():
        assert any(
            r["doc_id"] == doc_id
            and r["span_start"] <= hi
            and r["span_end"] >= lo
            for r in spans
        ), (doc_id, blocks, sorted(map(tuple, spans)))


def test_cut_spans_removes_exactly_the_detected_ranges(spark):
    """cut_spans is the exact inverse-complement of the span list: for
    each doc, clean_text equals the Python-side reconstruction from
    its collected spans; a doc with no spans passes through verbatim;
    a doc spanned end-to-end becomes '' (NOT its original text — the
    left-join-coalesce trap)."""
    from sentiflow_spark.operators.dedup import (
        cut_spans,
        winnow_duplicate_spans,
    )

    block = "thequickbrownfoxjumpsoverthelazydogagainandmore!"
    filler_a = "".join(f"q{i % 10}" for i in range(40))
    filler_b = "".join(f"z{9 - i % 10}" for i in range(40))
    unique = "".join(f"m{i % 7}x" for i in range(40))
    texts = {
        1: filler_a + block + filler_a,
        2: filler_b + filler_b + block,
        3: unique,
        4: block,          # entire doc is shared content
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    spans = winnow_duplicate_spans(df, min_fps=1)
    got = {
        r["doc_id"]: (r["clean_text"], r["clean_len"], r["orig_len"])
        for r in cut_spans(df, spans).collect()
    }
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in spans.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for doc_id, text in texts.items():
        keep = [True] * len(text)
        for s, e in by_doc.get(doc_id, []):
            for i in range(s - 1, e):
                keep[i] = False
        want = "".join(c for c, k in zip(text, keep) if k)
        assert got[doc_id] == (want, len(want), len(text)), doc_id
    assert got[3][0] == unique          # untouched
    # end-to-end coverage (handmade spans — winnowing selections never
    # pin the very first gram, so force the edge case directly): a doc
    # spanned [1, len] must become '', not silently revert to original
    manual = spark.createDataFrame(
        [(1, 1, len(texts[1]), 3), (4, 1, len(block), 2)],
        "doc_id long, span_start long, span_end long, n_shared long",
    )
    got2 = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(df, manual).collect()
    }
    assert got2[1] == "" and got2[4] == ""
    assert got2[3] == unique and got2[2] == texts[2]
    # Overlapping / non-disjoint spans would silently DROP characters
    # (negative substr lengths in the fold) — parity-invisible because
    # the oracle mirrors the fold. The guard must fail loudly instead.
    overlapping = spark.createDataFrame(
        [(1, 5, 20, 2), (1, 10, 30, 2)],
        "doc_id long, span_start long, span_end long, n_shared long",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="overlapping|non-disjoint"):
        cut_spans(df, overlapping).collect()


def test_selfrepeat_spans_flag_planted_repeat_not_unique_doc(spark):
    """Within-doc repetition spans: a doc containing the same 20-char
    block twice gets spans overlapping BOTH copies; a doc of all-unique
    content gets none; and a block shared only ACROSS docs (no
    self-repeat) is NOT flagged by the intra-doc operator."""
    from sentiflow_spark.operators.dedup import winnow_selfrepeat_spans

    block = "abcdefghijklmnopqrst"  # 20 chars >= w + k - 1
    # fillers must be APERIODIC: a cyclic pattern like "m0xm1x...m6x"
    # is itself a self-repeat (period 21) and gets correctly flagged
    fill = "".join(f"q{i:02d}" for i in range(10))
    mid = "".join(f"z{i:02d}" for i in range(5))
    d1 = fill + block + mid + block + fill       # self-repeat
    d2 = "".join(f"m{i:02d}" for i in range(14))   # unique, aperiodic
    d3 = "".join(f"y{i:02d}" for i in range(14)) + block  # cross-doc only
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    spans = winnow_selfrepeat_spans(df, min_fps=1).collect()
    docs = {r["doc_id"] for r in spans}
    assert 2 not in docs and 3 not in docs
    c1 = (len(fill) + 1, len(fill) + len(block))
    c2 = (len(fill) + len(block) + len(mid) + 1,
          len(fill) + 2 * len(block) + len(mid))
    for lo, hi in (c1, c2):
        assert any(
            r["doc_id"] == 1 and r["span_start"] <= hi and r["span_end"] >= lo
            for r in spans
        ), (lo, hi, sorted(map(tuple, spans)))


def test_nfc_normalize_non_ascii_fixtures(spark):
    """The NFC path the ASCII corpus can't exercise: combining marks
    compose to precomposed forms identically in Spark (pandas UDF over
    unicodedata) and DuckDB (nfc_normalize); zero-width chars vanish;
    control chars strip; whitespace runs collapse; tab/newline-only
    content trims to ''. Cross-engine agreement asserted directly."""
    import duckdb

    from sentiflow_spark.queries.curation_queries import txt_nfc_normalize
    from sentiflow_spark.queries.registry import load_all

    q = load_all()["txt_nfc_normalize"]
    fixtures = [
        (1, "café du  monde"),          # combining acute -> café
        (2, "naı̈ve​ test"),   # dotless i + diaeresis + ZWSP
        (3, "a\x00b\x07c"),                   # C0 controls
        (4, " \t \t "),                       # whitespace-only -> ''
        (5, "plain ascii"),                   # unchanged
    ]
    df = spark.createDataFrame(fixtures, "doc_id long, text string")
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="sf_nfc_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: (r["norm_text"], r["changed"])
            for r in q.fn(spark, d).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        want = {
            row[0]: (row[1], row[2])
            for row in con.execute(q.oracle).fetchall()
        }
        assert got == want
        assert got[1][0] == "café du monde" and got[1][1]
        assert "​" not in got[2][0]
        assert got[3][0] == "abc"
        assert got[4][0] == ""
        assert got[5] == ("plain ascii", False)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------ product quantization (PQ)


def test_pq_codebook_vectors_encode_to_themselves(spark, sf_dir):
    """A training vector's subvector is at distance 0 from its own
    codeword, so every vec_id < PQ_K must encode to code_id == vec_id
    in every subspace (d2=0 is a strict argmin for distinct codewords)."""
    from sentiflow_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_encode,
        with_quantized,
    )
    from sentiflow_spark.tables import load

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    codes = (
        pq_encode(emb)
        .filter(F.col("vec_id") < PQ_K)
        .collect()
    )
    assert len(codes) == PQ_K * PQ_M
    for r in codes:
        assert r["code_id"] == r["vec_id"], (
            f"vec {r['vec_id']} sub {r['sub_id']} -> code {r['code_id']}"
        )


def test_pq_code_arr_matches_encode(spark, sf_dir):
    """r12 array-ADC pin: pq_code_arr (one code array per vector, the
    single-shuffle encode the ADC fold consumes) must agree codeword-
    for-codeword with pq_encode's per-(vector, subspace) argmin rows —
    same (d2, code_id) tie-break, just a different row shape."""
    from sentiflow_spark.operators.similarity import (
        PQ_M,
        pq_code_arr,
        pq_codebook,
        pq_encode,
        with_quantized,
    )
    from sentiflow_spark.tables import load

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    rows = {
        (r["vec_id"], r["sub_id"]): r["code_id"]
        for r in pq_encode(emb).collect()
    }
    arrs = {
        r["vec_id"]: list(r["code_arr"])
        for r in pq_code_arr(emb, pq_codebook(emb)).collect()
    }
    assert set(arrs) == {v for v, _ in rows}
    for vid, arr in arrs.items():
        assert arr == [rows[(vid, m)] for m in range(PQ_M)], vid


def test_pq_adc_matches_python_reference(spark, sf_dir):
    """ADC distances and the top-k ranking match a direct NumPy
    re-implementation of Jégou et al.'s asymmetric distance on the
    same quantized vectors."""
    import numpy as np

    from sentiflow_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUB,
        pq_adc_topk,
        with_quantized,
    )
    from sentiflow_spark.tables import load

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    rows = emb.select("vec_id", "qvec").collect()
    q = {r["vec_id"]: np.array(r["qvec"], dtype=np.int64) for r in rows}

    def sub(v, m):
        return v[m * PQ_SUB:(m + 1) * PQ_SUB]

    # codebook: subvectors of vec_id < PQ_K; codes: argmin codeword
    def encode(v):
        out = []
        for m in range(PQ_M):
            d2 = [int(((sub(v, m) - sub(q[c], m)) ** 2).sum()) for c in range(PQ_K)]
            out.append(min(range(PQ_K), key=lambda c: (d2[c], c)))
        return out

    n_probes, k = 3, 4
    expected = {}
    codes = {vid: encode(v) for vid, v in q.items()}
    for p in range(n_probes):
        dists = []
        for vid, v in q.items():
            if vid == p:
                continue
            adc = sum(
                int(((sub(q[p], m) - sub(q[codes[vid][m]], m)) ** 2).sum())
                for m in range(PQ_M)
            )
            dists.append((adc, vid))
        dists.sort()
        expected[p] = [(vid, adc, r + 1) for r, (adc, vid) in enumerate(dists[:k])]

    got = pq_adc_topk(emb, n_probes=n_probes, k=k).collect()
    got_by_probe = {}
    for r in got:
        got_by_probe.setdefault(r["probe_id"], []).append(
            (r["cand_id"], r["adc_d2"], r["rank"])
        )
    for p in range(n_probes):
        assert sorted(got_by_probe[p], key=lambda t: t[2]) == expected[p]


def test_perplexity_buckets_partition_and_order(spark, sf_dir):
    """txt_perplexity_bucket invariants: buckets partition the corpus
    into near-terciles, and the bucket order respects cross-entropy
    (every head doc scores <= every middle doc <= every tail doc)."""
    from sentiflow_spark.queries.curation_queries import txt_perplexity_bucket

    rows = txt_perplexity_bucket(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["ppl_bucket"], []).append(r["h_milli"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    # tercile-ish sizes (exact thirds modulo ties at the boundaries)
    for vals in by_bucket.values():
        assert len(vals) >= n // 6
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_stateless_minhash_matches_batch_signatures(spark, sf_dir):
    """minhash_sig_array_stateless (the streaming-safe per-row fold)
    must produce bit-identical signatures to the batch
    explode+groupBy minhash_signatures for every document."""
    from sentiflow_spark.operators.dedup import (
        NUM_PERM,
        minhash_sig_array_stateless,
        minhash_signatures,
    )
    from sentiflow_spark.tables import load

    docs = load(spark, sf_dir, "documents").limit(200)
    batch = {
        r["doc_id"]: [r[f"sig_{i}"] for i in range(NUM_PERM)]
        for r in minhash_signatures(docs).collect()
    }
    stateless = {
        r["doc_id"]: list(r["sig_arr"])
        for r in minhash_sig_array_stateless(docs)
        .select("doc_id", "sig_arr")
        .collect()
    }
    assert stateless == batch


def test_grouped_split_never_separates_near_duplicates(spark, sf_dir):
    """txt_grouped_split's contract: every MinHash-LSH near-duplicate
    pair (est_jaccard >= 0.9 — the same graph the split is keyed on)
    lands on the SAME side of the train/val boundary, the leakage the
    doc-level hash-mod split cannot rule out. Also checks both splits
    are non-trivially populated and every doc is assigned exactly
    once."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from sentiflow_spark.queries.dedup_queries import txt_grouped_split
    from sentiflow_spark.tables import load

    split = txt_grouped_split(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    assert split.count() == docs.count()
    sides = {r["split"] for r in split.select("split").distinct().collect()}
    assert sides == {"train", "val"}

    pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
        F.col("est_jaccard") >= 0.9
    )
    a = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    straddlers = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddlers == 0


def test_drift_psi_zero_for_identical_distribution(spark):
    """PSI must be ~0 (exactly 0 under the term rounding) when a
    source's distribution equals the reference's, and grow when a
    planted shift is introduced — checked on a handmade corpus where
    'same' duplicates the reference histogram and 'shifted' moves all
    mass to one bucket."""
    import sentiflow_spark.queries.curation_queries as cq

    ref_rows = []
    # reference slice: 4 sources x a fixed histogram over lengths/langs
    for s in cq.PPL_REF_SOURCES:
        for i in range(40):
            ref_rows.append((s, 50 + (i % 10) * 100, ["en", "de", "es", "fr", "zh"][i % 5]))
    same = [("srcX", 50 + (i % 10) * 100, ["en", "de", "es", "fr", "zh"][i % 5]) for i in range(160)]
    shifted = [("srcY", 950, "zh") for _ in range(160)]
    df = spark.createDataFrame(
        [(i, s, n, l) for i, (s, n, l) in enumerate(ref_rows + same + shifted)],
        ["doc_id", "source", "n_chars", "lang"],
    )

    import sentiflow_spark.tables as tables

    orig = tables.load
    try:
        tables.load = lambda sp, d, t: df  # the query loads documents only
        cq.load = tables.load
        out = {(r["source"], r["metric"]): r["psi"] for r in cq.txt_drift_psi(spark, "ignored").collect()}
    finally:
        tables.load = orig
        cq.load = orig
    # identical histogram -> every per-bucket term rounds to 0
    assert out[("srcX", "length")] == 0.0
    assert out[("srcX", "lang")] == 0.0
    # planted shift -> PSI far beyond the 0.25 'shifted' rule of thumb
    assert out[("srcY", "length")] > 0.25
    assert out[("srcY", "lang")] > 0.25


def test_star_edges_preserve_candidate_components(spark, sf_dir):
    """lsh_star_edges' contract: connected components over the star
    edges equal components over the FULL unverified candidate-pair
    graph — the within-bucket star has the same connectivity as the
    within-bucket clique, so sparsification (occ-1 edges vs C(occ,2))
    changes nothing about cluster assignment."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signatures,
    )
    from sentiflow_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    via_star = {
        r["node"]: r["lbl"]
        for r in connected_components(lsh_star_edges(sigs)).collect()
    }
    # all candidate pairs, NO est_jaccard gate — the same edge
    # semantics the sparse form clusters
    via_pairs = {
        r["node"]: r["lbl"]
        for r in connected_components(
            lsh_candidate_pairs(sigs).select("doc_a", "doc_b")
        ).collect()
    }
    assert via_star == via_pairs
    assert len(via_star) > 0


def test_packed_band_keys_match_md5_banding(spark, sf_dir):
    """r12 band-key narrowing pin: the packed-long band key
    (shiftleft(s0,31)|s1 pairs) must induce EXACTLY the bucket
    partition of the md5-hex key it replaced — key equality iff the
    band's signature tuple is equal — so lsh_candidate_pairs' declared
    output cannot move. Checked two ways: (1) candidate pairs from the
    operator equal pairs from an inline md5-banding reference over the
    same signatures; (2) on handmade signatures, equal sig tuples
    collide and a one-off sig tuple does not (injectivity at the
    31-bit boundary: sigs 0 and 2^31-2, the range extremes)."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        BAND_SIZE,
        NUM_PERM,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from sentiflow_spark.tables import load

    docs = load(spark, sf_dir, "documents").limit(300)
    sigs = minhash_signatures(docs).localCheckpoint()
    got = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, materialized=True)
        .select("doc_a", "doc_b")
        .collect()
    }

    n_bands = NUM_PERM // BAND_SIZE
    ref_bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"sig_{b * BAND_SIZE + r}")
                                    for r in range(BAND_SIZE)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")
    a, b = ref_bands.alias("a"), ref_bands.alias("b")
    ref = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .collect()
    }
    assert got == ref
    assert len(got) > 0

    # injectivity at the 31-bit extremes: identical tuple collides,
    # one-off tuple (max vs max-1 in the last slot) does not
    hi = 2**31 - 2  # MERSENNE_31 - 1: the largest attainable sig value
    rows = []
    for doc_id, last in ((1, hi), (2, hi), (3, hi - 1), (4, 0)):
        rows.append([doc_id] + [0] * (NUM_PERM - 1) + [last])
    handmade = spark.createDataFrame(
        rows, ["doc_id"] + [f"sig_{i}" for i in range(NUM_PERM)]
    )
    hand_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(handmade, materialized=True)
        .select("doc_a", "doc_b")
        .collect()
    }
    # docs 1,2 share every band; 3 differs from 1/2 only in the last
    # band's last sig; 4 differs more. Bands 0..2 are all-zero for
    # every doc, so ALL pairs are candidates — but if packing ever
    # aliased hi with hi-1 or 0, that would also be true of a
    # last-band-only reference, so check the last band directly:
    from sentiflow_spark.operators.dedup import banded_sigs

    last_band = (
        banded_sigs(handmade)
        .filter(F.col("band_idx") == NUM_PERM // BAND_SIZE - 1)
        .collect()
    )
    keys = {r["doc_id"]: (r["bk0"], r["bk1"]) for r in last_band}
    assert keys[1] == keys[2]
    assert keys[1] != keys[3]
    assert keys[1] != keys[4]
    assert keys[3] != keys[4]
    assert {(1, 2), (1, 3), (1, 4)} <= hand_pairs


def test_contaminated_spans_cover_planted_benchmark_quote(spark):
    """winnow_contaminated_spans must flag a benchmark sentence quoted
    verbatim inside a training doc (span covers the quote), must NOT
    flag a clean training doc, and must never emit spans for the
    benchmark docs themselves."""
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import winnow_contaminated_spans

    quote = "the quick brown fox jumps over the lazy benchmark dog"
    bench = (0, "BENCH: " + quote + " END")
    clean = (1, "an entirely unrelated training document about turnips " * 3)
    dirty_prefix = "training prose before the quotation zzz "
    dirty = (2, dirty_prefix + quote + " and prose after it")
    df = spark.createDataFrame([bench, clean, dirty], ["doc_id", "text"])

    spans = winnow_contaminated_spans(
        df, is_bench=F.col("doc_id") == 0
    ).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert 0 not in by_doc, "benchmark docs must not self-flag"
    assert 1 not in by_doc, "clean doc wrongly flagged"
    assert 2 in by_doc, "planted quotation missed"
    # the quote occupies [len(prefix)+1, len(prefix)+len(quote)] in
    # 1-based chars; the detected span must overlap most of it
    q_start = len(dirty_prefix) + 1
    q_end = len(dirty_prefix) + len(quote)
    covered = 0
    for s, e in by_doc[2]:
        covered += max(0, min(e, q_end) - max(s, q_start) + 1)
    assert covered >= (q_end - q_start + 1) * 0.7, (by_doc[2], q_start, q_end)


def test_ivf_centroid_floor_matches_duckdb_on_negatives(spark):
    """ivf_centroids uses floor(sum/count); DuckDB's // truncates
    toward zero, so the oracle spells floor() explicitly. Pin the
    agreement on a fixture whose bucket means are NEGATIVE non-integers
    — the exact case where floor and truncate diverge (-7/2: floor -4,
    truncate -3)."""
    import duckdb

    from sentiflow_spark.operators.similarity import ivf_centroids

    rows = [
        (0, 0, [-7, 5, -1]),
        (1, 0, [0, 2, -2]),   # bucket 0 sums: (-7, 7, -3) over 2 -> floor(-3.5)=-4, 3, floor(-1.5)=-2
        (2, 1, [-9, -9, 9]),  # bucket 1 over 3 -> floor(-19/3)=-7, ...
        (3, 1, [-5, 4, 1]),
        (4, 1, [-5, 0, 0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "qvec"])
    got = {r["label"]: list(r["cent"]) for r in ivf_centroids(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE q AS SELECT * FROM (VALUES "
                + ", ".join(f"({v}, {l}, {q})" for v, l, q in rows)
                + ") t(vec_id, label, qvec)")
    want = {
        l: c
        for l, c in con.execute(
            """
            SELECT label, list(c ORDER BY pos) FROM (
              SELECT label, g.i AS pos,
                     CAST(floor(CAST(SUM(qvec[g.i]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS c
              FROM q, (SELECT unnest(range(1, 4)) AS i) g GROUP BY 1, 2
            ) GROUP BY label
            """
        ).fetchall()
    }
    assert got == want
    assert got[0] == [-4, 3, -2]  # floor, not truncate (-3, 3, -1)


def test_curation_dag_composition_invariants(spark, sf_dir):
    """txt_curation_dag's composition contract, re-derived from the
    standalone operators rather than the DAG's own internals:

    1. totality — every input doc gets exactly one disposition row;
       kept rows carry (split, seq_id, n_tokens), dropped rows don't;
    2. stage agreement — kept docs pass the DAG's quality gate computed
       independently and are disjoint from the near-dup loser set;
    3. LEAK-SAFETY — among kept docs, no MinHash band bucket straddles
       train/val: the grouped split keys on star-edge components over
       band collisions, so any two kept docs the LSH considers
       near-material land on the same side.
    """
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        BAND_SIZE,
        NUM_PERM,
        minhash_signatures,
    )
    from sentiflow_spark.queries.curation_dag import (
        DAG_GOPHER_RULES,
        curation_stages,
        txt_curation_dag,
    )
    from sentiflow_spark.queries.curation_queries import gopher_flags
    from sentiflow_spark.tables import load

    disp = txt_curation_dag(spark, sf_dir).localCheckpoint()
    docs = load(spark, sf_dir, "documents")
    n = docs.count()

    # 1. totality
    assert disp.count() == n
    assert disp.select("doc_id").distinct().count() == n
    kept = disp.filter(F.col("stage") == "kept")
    assert kept.count() > 0
    assert kept.filter(
        F.col("split").isNull()
        | F.col("seq_id").isNull()
        | F.col("n_tokens").isNull()
    ).count() == 0
    assert disp.filter(
        (F.col("stage") != "kept") & F.col("seq_id").isNotNull()
    ).count() == 0

    # 2. stage agreement with independently-computed operators: the
    # quality gate scores the BOILERPLATE-CLEANED candidate text (the
    # CCNet ordering the DAG implements), so re-derive that set from
    # the standalone operator before recomputing the gate
    from sentiflow_spark.operators.dedup import boilerplate_removal
    from sentiflow_spark.queries.dedup_queries import DECON_SPAN_MOD

    st = curation_stages(spark, sf_dir)
    bp_ind = boilerplate_removal(
        st["docs_n"].filter(F.col("doc_id") % DECON_SPAN_MOD != 0)
    )
    assert kept.join(
        bp_ind.filter(~F.col("doc_kept")), "doc_id", "left_semi"
    ).count() == 0
    cleaned = bp_ind.filter(F.col("doc_kept")).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    flags = gopher_flags(cleaned)
    passes = None
    for r in DAG_GOPHER_RULES:
        passes = F.col(r) if passes is None else (passes & F.col(r))
    good = flags.filter(passes).select("doc_id")
    assert kept.join(good, "doc_id", "left_anti").count() == 0
    assert kept.join(st["near_losers"], "doc_id", "left_semi").count() == 0

    # 3. leak-safety: every band bucket among kept docs is split-pure
    sigs = minhash_signatures(st["s5"]).join(kept.select("doc_id"), "doc_id")
    n_bands = NUM_PERM // BAND_SIZE
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"sig_{b * BAND_SIZE + r}")
                                    for r in range(BAND_SIZE)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")
    impure = (
        bands.join(kept.select("doc_id", "split"), "doc_id")
        .groupBy("band_idx", "band_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
    )
    assert impure.count() == 0, "a near-material band bucket straddles train/val"


def test_duckdb_recursive_oracles_are_deterministic(sf_dir):
    """Determinism canary for the two recursive-CTE DP oracles: DuckDB
    1.0's reduce() with list accumulators / outer-column capture is
    nondeterministic on RAGGED multi-row inputs (caught live while
    building txt_wordpiece_encode — repeated runs returned different
    values, even at threads=1; its walk is now a lambda-free recursive
    join). Round 7 removed the LAST reduce() as well — sim_dtw_topk's
    within-row fold is now 2R+1 unrolled chained lateral aliases, so
    the registry's oracle SQL contains no stateful lambdas at all —
    but the canary stays: it re-runs both oracles back-to-back and
    fails if either ever goes unstable, e.g. after a duckdb upgrade
    or a series-construction change."""
    import duckdb

    from sentiflow_spark.queries.corpus_queries import _duck_dtw_oracle
    from sentiflow_spark.queries.curation_queries import (
        _duck_wordpiece_oracle,
    )

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for sql in (_duck_dtw_oracle(), _duck_wordpiece_oracle()):
        runs = [sorted(map(tuple, con.execute(sql).fetchall()))
                for _ in range(3)]
        assert runs[0] == runs[1] == runs[2]


def test_wordpiece_greedy_matches_reference():
    """txt_wordpiece_encode's greedy longest-match walk against a
    hand-checked example, via the same operator expressions on a tiny
    in-memory corpus: vocab admits frequent substrings up to length 4
    plus single chars; 'abcd' repeated makes 'abcd' a piece, so
    'abcdx' tokenizes as [abcd, x] = 2 and a rare word falls back to
    its single chars."""
    from sentiflow_spark.queries.curation_queries import (
        WP_MIN_COUNT,
    )

    corpus = ["abcd"] * WP_MIN_COUNT + ["abcdx", "zq"]
    # pure-python reference of the declared algorithm
    from collections import Counter

    wf = Counter(corpus)
    pieces = Counter()
    for w, f in wf.items():
        for p in range(len(w)):
            for L in range(1, min(4, len(w) - p) + 1):
                pieces[w[p:p + L]] += f
    vocab = {pc for pc, n in pieces.items() if n >= WP_MIN_COUNT or len(pc) == 1}
    assert "abcd" in vocab and "z" in vocab and "zq" not in vocab

    def greedy(w):
        pos, cnt = 0, 0
        while pos < len(w):
            for L in range(min(4, len(w) - pos), 0, -1):
                if w[pos:pos + L] in vocab:
                    pos += L
                    break
            cnt += 1
        return cnt

    assert greedy("abcd") == 1
    assert greedy("abcdx") == 2
    assert greedy("zq") == 2  # falls back to single chars


def test_dtw_oracle_unrolled_band_matches_python_dp():
    """Property check for the round-7 lambda-free DTW oracle rewrite:
    the 2R+1 unrolled lateral-alias band cells must reproduce the
    banded DP exactly on RANDOM series, not just the committed corpus
    — band-edge cells (lo/hi clamping, the INF padding splice) are the
    part a fixed dataset exercises thinly. Five seeded trials build a
    synthetic events table whose per-user daily counts equal random
    integer series, run the full oracle SQL, and compare the top-k
    table against an independent pure-Python banded DP with the same
    (dtw ASC, cand ASC) tie-break."""
    import random

    import duckdb

    from sentiflow_spark.queries.corpus_queries import (
        DTW_BAND,
        DTW_K,
        DTW_PROBES,
        _duck_dtw_oracle,
    )

    def dtw(a, b, band=DTW_BAND):
        n, m = len(a), len(b)
        r = max(band, abs(n - m))
        INF = float("inf")
        prev = [0.0] + [INF] * m
        for i in range(1, n + 1):
            cur = [INF] * (m + 1)
            for j in range(max(1, i - r), min(m, i + r) + 1):
                cost = abs(a[i - 1] - b[j - 1])
                cur[j] = cost + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return prev[m]

    rng = random.Random(7)
    for trial in range(5):
        n_users = rng.randint(4, 6)
        length = rng.randint(2, 12)
        series = {
            u: [rng.randint(0, 5) for _ in range(length)]
            for u in range(n_users)
        }
        # every user needs >=1 event on day 0 and the last day so the
        # global span equals the intended length; bump zeros there
        for s in series.values():
            s[0] = max(s[0], 1)
            s[-1] = max(s[-1], 1)
        rows = []
        for u, s in series.items():
            for d, c in enumerate(s):
                for k in range(c):
                    rows.append((u, d * 86400 + k))
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events AS SELECT col0 AS user_id, "
            "to_timestamp(col1) AS ts FROM (VALUES "
            + ", ".join(f"({u}, {t})" for u, t in rows)
            + ") v(col0, col1)"
        )
        got = sorted(map(tuple, con.execute(_duck_dtw_oracle()).fetchall()))
        want = []
        for p in range(min(DTW_PROBES, n_users)):
            cands = sorted(
                (int(dtw(series[p], series[c])), c)
                for c in series
                if c != p
            )
            want += [
                (p, c, d, r + 1)
                for r, (d, c) in enumerate(cands[:DTW_K])
            ]
        assert got == sorted(want), f"trial {trial}: {got} != {want}"


def test_unigram_tokenize_oracle_matches_python_viterbi():
    """Independent semantic check for txt_unigram_tokenize (the
    Spark↔oracle hash parity proves the two engines agree; this proves
    they agree on THE RIGHT THING): a pure-Python replica of the whole
    contract — vocabulary admission, micro-nat costs, lexicographic
    (cost, n_tokens) Viterbi — run against the oracle SQL on random
    synthetic corpora. Random short alphabets force dense piece
    collisions, exercising tie-breaks and multi-length transitions."""
    import math
    import random

    import duckdb

    from sentiflow_spark.queries.curation_queries import (
        UG_MAX_PIECE,
        UG_MIN_COUNT,
        _duck_unigram_oracle,
    )

    rng = random.Random(11)
    for trial in range(4):
        docs = [
            " ".join(
                "".join(
                    rng.choice("abc") for _ in range(rng.randint(1, 8))
                )
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(rng.randint(3, 10))
        ]
        # python replica of the declared contract
        words: dict[str, int] = {}
        per_doc_words = []
        for t in docs:
            ws = [w for w in t.lower().split() if w.isalpha()]
            per_doc_words.append(ws)
            for w in ws:
                words[w] = words.get(w, 0) + 1
        pf: dict[str, int] = {}
        for w, f in words.items():
            for p in range(len(w)):
                for pl in range(1, min(UG_MAX_PIECE, len(w) - p) + 1):
                    piece = w[p : p + pl]
                    pf[piece] = pf.get(piece, 0) + f
        vocab = {
            p: c
            for p, c in pf.items()
            if c >= UG_MIN_COUNT or len(p) == 1
        }
        tot = float(sum(vocab.values()))
        cost = {
            p: int(round(-1000000.0 * math.log(c / tot)))
            for p, c in vocab.items()
        }

        def viterbi(w: str) -> tuple[int, int]:
            INF = (1 << 61, 1 << 61)
            dp = [(0, 0)] + [INF] * len(w)
            for k in range(1, len(w) + 1):
                best = INF
                for j in range(1, min(UG_MAX_PIECE, k) + 1):
                    piece = w[k - j : k]
                    if piece in vocab:
                        c0, n0 = dp[k - j]
                        cand = (c0 + cost[piece], n0 + 1)
                        if cand < best:
                            best = cand
                dp[k] = best
            return dp[len(w)]

        want = {}
        for i, ws in enumerate(per_doc_words):
            n = c = 0
            for w in ws:
                wc, wn = viterbi(w)
                c += wc
                n += wn
            want[i] = (n, c)

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT col0 AS doc_id, col1 AS text "
            "FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in enumerate(docs))
            + ") v(col0, col1)"
        )
        got = {
            r[0]: (r[1], r[2])
            for r in con.execute(_duck_unigram_oracle()).fetchall()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


@SETTINGS
@given(
    dims=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=65535),  # JPEG SOF0 bound
            st.integers(min_value=1, max_value=65535),
            st.booleans(),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_image_header_parse_inverts_synthesis(spark, dims):
    """mm_header_probe's parser on ARBITRARY dimensions, not just the
    fixture formula's: for any (width, height, png-or-jpeg), parsing
    the spec-correct synthesized header bytes returns exactly the
    dimensions and format that went in — the golden round-trip as a
    property. Width/height range over the full 2-byte JPEG SOF0
    domain (PNG's 4-byte fields are a superset at these values)."""
    from sentiflow_spark.queries.multimodal_queries import (
        image_header_payload,
        parse_image_dims,
    )

    rows = [(i, w, h, p) for i, (w, h, p) in enumerate(dims)]
    df = spark.createDataFrame(rows, "i long, w int, h int, png boolean")
    media = df.select(
        "i", "w", "h", "png",
        image_header_payload(F.col("w"), F.col("h"), F.col("png")).alias(
            "payload"
        ),
    )
    fmt, width, height = parse_image_dims(F.col("payload"))
    got = {
        r["i"]: (r["pw"], r["ph"], r["pf"])
        for r in media.select(
            "i", width.alias("pw"), height.alias("ph"), fmt.alias("pf")
        ).collect()
    }
    want = {
        i: (w, h, "png" if p else "jpeg") for i, w, h, p in rows
    }
    assert got == want


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=65535),  # true width
            st.integers(min_value=1, max_value=65535),  # true height
            st.integers(min_value=1, max_value=65535),  # decoy width
            st.integers(min_value=1, max_value=65535),  # decoy height
            st.integers(min_value=0, max_value=8),      # padding segments
        ),
        min_size=1,
        max_size=16,
    )
)
def test_jpeg_segment_walk_skips_planted_decoy(spark, cases):
    """The segment walker on ADVERSARIAL headers: for any true dims,
    any decoy dims planted as an FFC0 lookalike inside a COM segment
    payload, and any padding depth, jpeg_sof_pos finds the REAL frame
    header (walker dims == true dims) while the naive first-FFC0
    locate reads the planted decoy (naive dims == decoy dims) — the
    misparse the walk exists to prevent, as a property over the full
    2-byte dimension domain."""
    from sentiflow_spark.queries.multimodal_queries import (
        _jpeg_dims_at,
        jpeg_adversarial_payload,
        jpeg_sof_pos,
    )

    rows = [(i, *c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "i long, w int, h int, dw int, dh int, np int"
    )
    media = df.select(
        "i",
        jpeg_adversarial_payload(
            F.col("w"), F.col("h"), F.col("dw"), F.col("dh"), F.col("np")
        ).alias("payload"),
    )
    hx = F.hex(F.col("payload"))
    walk_w, walk_h = _jpeg_dims_at(hx, jpeg_sof_pos(hx))
    naive_w, naive_h = _jpeg_dims_at(hx, F.locate("FFC0", hx))
    got = {
        r["i"]: (r["ww"], r["wh"], r["nw"], r["nh"])
        for r in media.select(
            "i",
            walk_w.alias("ww"),
            walk_h.alias("wh"),
            naive_w.alias("nw"),
            naive_h.alias("nh"),
        ).collect()
    }
    want = {i: (w, h, dw, dh) for i, w, h, dw, dh, _ in rows}
    assert got == want


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            # sample rate a multiple of 500 so byte_rate divides the
            # ms→bytes conversion exactly (the fixture formula's
            # 8000-multiples are a subset); full RIFF fields otherwise
            st.integers(min_value=1, max_value=192),   # sr = 500*this
            st.integers(min_value=1, max_value=8),     # channels
            st.integers(min_value=1, max_value=100_000),  # duration ms
            st.integers(min_value=0, max_value=64),    # JUNK bytes
        ),
        min_size=1,
        max_size=16,
    )
)
def test_wav_header_parse_inverts_synthesis(spark, cases):
    """mm_wav_header_probe's RIFF chunk walk on ARBITRARY fields: for
    any (sample_rate, channels, duration, junk-chunk size — odd sizes
    exercising the pad-to-even rule), parsing the synthesized header
    returns exactly what went in. Little-endian round-trip as a
    property, including the duration reconstruction from the data
    chunk size."""
    from sentiflow_spark.queries.multimodal_queries import (
        parse_wav_header,
        wav_header_payload,
    )

    rows = [(i, 500 * s, c, d, j) for i, (s, c, d, j) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, sr int, ch int, ms int, junk int")
    media = df.select(
        "i",
        wav_header_payload(
            F.col("sr"), F.col("ch"), F.col("ms"), F.col("junk")
        ).alias("payload"),
    )
    sr, ch, bits, dur = parse_wav_header(F.col("payload"))
    got = {
        r["i"]: (r["psr"], r["pch"], r["pb"], r["pms"])
        for r in media.select(
            "i", sr.alias("psr"), ch.alias("pch"),
            bits.alias("pb"), dur.alias("pms"),
        ).collect()
    }
    want = {i: (s, c, 16, d) for i, s, c, d, _ in rows}
    assert got == want


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.sampled_from(["isom", "mp42", "3gp4", "avc1"]),
            st.integers(min_value=1, max_value=2**31 - 1),  # timescale
            st.integers(min_value=0, max_value=2**31 - 1),  # duration ticks
            st.integers(min_value=0, max_value=23),         # free bytes
            st.integers(min_value=0, max_value=11),         # udta padding
        ),
        min_size=1,
        max_size=16,
    )
)
def test_mp4_header_parse_inverts_synthesis(spark, cases):
    """mm_mp4_box_walk's two-level box walk on ARBITRARY fields: for
    any (brand, timescale, ticks, free-box size, udta padding),
    parsing the synthesized MP4 header returns exactly the brand and
    floor(ticks*1000/timescale) ms — through the doc-varying box
    offsets AND the udta decoy every payload plants. The floor over
    IEEE double division is exact here because ticks*1000 < 2^52
    (documented in parse_mp4_header); the Python model uses integer
    division, so equality also PROVES that claim over the domain."""
    from sentiflow_spark.queries.multimodal_queries import (
        mp4_payload,
        parse_mp4_header,
    )

    rows = [(i, *c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "i long, brand string, ts long, ticks long, fb int, up int"
    )
    media = df.select(
        "i",
        mp4_payload(
            F.col("brand"), F.col("ts"), F.col("ticks"),
            F.col("fb"), F.col("up"),
        ).alias("payload"),
    )
    brand, ts, dur = parse_mp4_header(F.col("payload"))
    got = {
        r["i"]: (r["pb"], r["pts"], r["pms"])
        for r in media.select(
            "i", brand.alias("pb"), ts.alias("pts"), dur.alias("pms")
        ).collect()
    }
    want = {i: (b, t, (k * 1000) // t) for i, b, t, k, _, _ in rows}
    assert got == want


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**31 - 1),  # true timescale
            st.integers(min_value=0, max_value=2**31 - 1),  # true ticks
            st.integers(min_value=1, max_value=2**31 - 1),  # fake timescale
            st.integers(min_value=0, max_value=2**31 - 1),  # fake ticks
            st.integers(min_value=0, max_value=23),         # free bytes
            st.integers(min_value=0, max_value=11),         # udta padding
        ),
        min_size=1,
        max_size=16,
    )
)
def test_mp4_box_walk_skips_planted_decoy(spark, cases):
    """The box walk on ADVERSARIAL headers: the udta decoy is dressed
    as a full mvhd field block with FAKE timescale/ticks at the exact
    offsets a naive locate('mvhd') reader consumes. The walker must
    read the REAL values; the naive reader must read the PLANT — the
    misparse the two-level walk exists to prevent."""
    from sentiflow_spark.queries.multimodal_queries import (
        _MVHD_HEX,
        mp4_adversarial_payload,
        parse_mp4_header,
    )

    rows = [(i, *c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(
        rows,
        "i long, ts long, ticks long, fts long, fticks long, fb int, up int",
    )
    media = df.select(
        "i",
        mp4_adversarial_payload(
            F.lit("isom"), F.col("ts"), F.col("ticks"),
            F.col("fts"), F.col("fticks"), F.col("fb"), F.col("up"),
        ).alias("payload"),
    )
    hx = F.hex(F.col("payload"))
    _, walk_ts, _ = parse_mp4_header(F.col("payload"))
    naive_pos = F.locate(_MVHD_HEX, hx)
    naive_ts = F.conv(
        F.substring(hx, naive_pos + F.lit(32), F.lit(8)), 16, 10
    ).cast("long")
    naive_ticks = F.conv(
        F.substring(hx, naive_pos + F.lit(40), F.lit(8)), 16, 10
    ).cast("long")
    got = {
        r["i"]: (r["wts"], r["nts"], r["ntk"])
        for r in media.select(
            "i", walk_ts.alias("wts"),
            naive_ts.alias("nts"), naive_ticks.alias("ntk"),
        ).collect()
    }
    want = {i: (ts, fts, ftk) for i, ts, _, fts, ftk, _, _ in rows}
    assert got == want


@SETTINGS
@given(
    texts=texts_strategy,
    seg=st.integers(min_value=1, max_value=7),
    min_docs=st.integers(min_value=2, max_value=4),
)
def test_boilerplate_removal_invariants(spark, texts, seg, min_docs):
    """For ANY corpus, segment width and doc threshold,
    boilerplate_removal matches the Python model of the CCNet/
    RefinedWeb semantics exactly: a segment in >= min_docs DISTINCT
    docs is removed from EVERY doc (including the first — the
    difference from segment_dedup's first-wins), everything else is
    kept in order, and removed_frac/doc_kept follow from exact
    character counts."""
    from sentiflow_spark.operators.dedup import boilerplate_removal

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_removal(
            df, seg_chars=seg, min_docs=min_docs, max_removed_frac=0.30
        ).collect()
    }
    owners: dict[str, set[int]] = {}
    per_doc = {}
    for i, t in enumerate(texts):
        chunks = [t[j : j + seg] for j in range(0, max(len(t), 1), seg)] or [""]
        per_doc[i] = chunks
        for c in chunks:
            owners.setdefault(c, set()).add(i)
    boiler = {c for c, docs in owners.items() if len(docs) >= min_docs}
    for i, chunks in per_doc.items():
        r = out[i]
        kept_chunks = [c for c in chunks if c not in boiler]
        total = sum(len(c) for c in chunks)
        kept_chars = sum(len(c) for c in kept_chunks)
        frac = (total - kept_chars) / total if total > 0 else 0.0
        assert r["n_total"] == len(chunks)
        assert r["n_kept"] == len(kept_chunks)
        assert r["text_clean"] == "".join(kept_chunks)
        assert r["removed_frac"] == frac
        assert r["doc_kept"] == (frac <= 0.30)


def test_boilerplate_counts_distinct_docs_not_occurrences(spark):
    """The threshold is DISTINCT documents: a segment repeated five
    times inside ONE doc is not boilerplate (intra-doc repetition is
    txt_repetition_filter's business), while the same segment in three
    docs is removed from all three."""
    from sentiflow_spark.operators.dedup import boilerplate_removal

    df = spark.createDataFrame(
        [
            (0, "aaaa" * 5),          # 5 intra-doc repeats of 'aaaa'
            (1, "aaaabbbbccccdddd"),
            (2, "bbbbxxxxyyyyzzzz"),
            (3, "bbbbqqqqrrrrssss"),  # 'bbbb' now in 3 distinct docs
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_removal(df, seg_chars=4, min_docs=3).collect()
    }
    assert out[0]["text_clean"] == "aaaa" * 5       # kept: 1 distinct doc
    assert out[1]["text_clean"] == "aaaaccccdddd"   # 'bbbb' removed
    assert out[2]["text_clean"] == "xxxxyyyyzzzz"
    assert out[3]["text_clean"] == "qqqqrrrrssss"
    assert out[1]["removed_frac"] == 0.25 and out[1]["doc_kept"]


@SETTINGS
@given(
    cases=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=65535),  # width
            st.integers(min_value=1, max_value=65535),  # height
            st.integers(min_value=0, max_value=32),     # EXIF pad bytes
            st.booleans(),                              # has EXIF at all
        ),
        min_size=1,
        max_size=16,
    )
)
def test_exif_strip_is_byte_exact(spark, cases):
    """mm_exif_strip's splice on ARBITRARY fields: stripping a payload
    built WITH an EXIF APP1 yields exactly the bytes of the same
    payload built WITHOUT it, and a payload with no EXIF passes
    through byte-identical — the rewrite never perturbs anything
    outside the spliced segment."""
    from sentiflow_spark.queries.multimodal_queries import (
        jpeg_exif_payload,
        jpeg_strip_exif,
    )

    rows = [(i, *c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, w int, h int, pad int, ex boolean")
    built = df.select(
        "i", "ex",
        jpeg_exif_payload(
            F.col("w"), F.col("h"), F.col("pad"), F.col("ex")
        ).alias("payload"),
        jpeg_exif_payload(
            F.col("w"), F.col("h"), F.col("pad"), F.lit(False)
        ).alias("clean"),
    )
    had, out = jpeg_strip_exif(F.col("payload"))
    got = built.select(
        "i", "ex",
        had.alias("had"),
        (F.hex(out) == F.hex(F.col("clean"))).alias("match"),
    ).collect()
    for r in got:
        assert r["had"] == r["ex"]
        assert r["match"]


def test_mm_gate_malformed_blobs_never_silently_admit(spark):
    """Every malformed-blob class — empty, truncated mid-segment, size
    field past EOF, per modality — lands in a DETERMINISTIC named
    reject bucket and is never admitted. This is the NULL-dims trap:
    a NULL parsed field makes every range when() branch not-true, so
    without the explicit malformed_header check a truncated JPEG falls
    through to 'ok' (r9 verdict item 4)."""
    from sentiflow_spark.queries.multimodal_queries import (
        _MAL_IMG_BADSZ_HEX,
        _MAL_IMG_TRUNC_HEX,
        _MAL_MP4_BADSZ_HEX,
        _MAL_MP4_TRUNC_HEX,
        _MAL_WAV_BADSZ_HEX,
        _MAL_WAV_TRUNC_HEX,
        mm_gate_flow,
    )

    # doc_ids chosen so doc_id % 13 == 6 (malformed slot) with the
    # right class (doc_id // 13) % 3 and base modality doc_id % 3:
    # class 1 = truncated, class 2 = size-past-EOF, class 0 = empty.
    cases = {}
    for i in range(6, 4000, 13):
        mc, m3 = (i // 13) % 3, i % 3
        key = (mc, m3)
        if key not in cases:
            cases[key] = i
    ids = sorted(cases.values())
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in mm_gate_flow(docs).collect()}
    expected_hex = {
        (1, 0): _MAL_IMG_TRUNC_HEX, (2, 0): _MAL_IMG_BADSZ_HEX,
        (1, 1): _MAL_WAV_TRUNC_HEX, (2, 1): _MAL_WAV_BADSZ_HEX,
        (1, 2): _MAL_MP4_TRUNC_HEX, (2, 2): _MAL_MP4_BADSZ_HEX,
    }
    mod_of = {0: "image", 1: "audio", 2: "video"}
    for (mc, m3), i in cases.items():
        r = got[i]
        assert not r["admitted"], (i, dict(r.asDict()))
        if mc == 0:
            assert r["reason"] == "empty" and r["modality"] == "unknown"
        else:
            assert r["reason"] == "malformed_header", (i, r["reason"])
            # magic stays intact so the failure exercised the RIGHT
            # modality's parser, not the unknown-container fallback
            assert r["modality"] == mod_of[m3]
            assert (mc, m3) in expected_hex


def test_mm_gate_polyglot_magic_is_deterministic(spark):
    """A POLYGLOT head: bytes 0-3 'RIFF', 4-7 'ftyp', 8-11 'WAVE'
    satisfy BOTH the audio detector (RIFF..WAVE) and the video
    detector (ftyp at offset 4) simultaneously — a crafted blob, but
    byte-legal for both containers (the 'ftyp' dword is a legal RIFF
    size; the 'RIFF' dword is a legal 1.38 GB box size). The gate's
    dispatch order is FIXED (image → audio → video), so the row lands
    deterministically in 'audio', and the WAV chunk walk then fails on
    the garbage body → 'malformed_header', never a silent admit and
    never a nondeterministic modality."""
    from sentiflow_spark.queries.multimodal_queries import parse_image_dims

    # doc_id must NOT collide with the fixture's malformed slot; use a
    # direct frame through the parsers + the gate's reason path via
    # mm_gate_flow is fixture-driven, so drive the dispatch directly
    hx = "52494646" + "66747970" + "57415645" + "0000"
    df = spark.createDataFrame([(1, hx)], "doc_id long, hin string")
    payload = F.to_binary(F.col("hin"), F.lit("hex"))
    from sentiflow_spark.queries.multimodal_queries import (
        _RIFF_HEX,
        _WAVE_HEX,
        parse_wav_header,
    )

    hxc = F.hex(payload)
    is_audio = hxc.startswith(_RIFF_HEX) & (
        F.substring(hxc, 17, 8) == _WAVE_HEX
    )
    is_video = F.substring(hxc, 9, 8) == F.hex(F.lit("ftyp"))
    sr, ch, _, adur = parse_wav_header(payload)
    _, w, h = parse_image_dims(payload)
    row = df.select(
        is_audio.alias("a"), is_video.alias("v"),
        sr.alias("sr"), ch.alias("ch"), adur.alias("adur"),
        w.alias("w"), h.alias("h"),
    ).collect()[0]
    assert row["a"] and row["v"]          # genuinely ambiguous magic
    # the winning (audio) parser yields NULLs on the garbage body, so
    # the gate's null-first check lands it in 'malformed_header'
    assert row["sr"] is None and row["ch"] is None and row["adur"] is None
    assert row["w"] is None and row["h"] is None


def test_exif_strip_skips_xmp_app1(spark):
    """An XMP (non-EXIF) APP1 sitting AHEAD of the EXIF APP1 — a
    layout that exists in the wild — must be stepped over like any
    other metadata segment, not frozen at: the EXIF segment is still
    spliced out and the XMP segment survives byte-identical (r9
    ADVICE: the walk previously stopped at the FIRST APP1 regardless
    of payload)."""
    from sentiflow_spark.queries.multimodal_queries import (
        _EXIF_MAGIC_HEX,
        _JFIF_APP0_HEX,
        _TIFF_BE_HDR_HEX,
        jpeg_strip_exif,
    )

    head = "FFD8" + _JFIF_APP0_HEX
    xmp_app1 = "FFE1" + format(2 + 6, "04X") + "58585858" + "5858"
    exif_app1 = (
        "FFE1"
        + format(2 + 6 + 8 + 4, "04X")
        + _EXIF_MAGIC_HEX
        + _TIFF_BE_HDR_HEX
        + "00" * 4
    )
    sof = "FFC0001108001000100301110002" + "1101031101"
    rows = [
        # (hex in, expect had_exif, hex out)
        (head + xmp_app1 + exif_app1 + sof, True, head + xmp_app1 + sof),
        (head + exif_app1 + xmp_app1 + sof, True, head + xmp_app1 + sof),
        (head + xmp_app1 + sof, False, head + xmp_app1 + sof),
    ]
    df = spark.createDataFrame(
        [(i, hin, exp_had, hout) for i, (hin, exp_had, hout) in enumerate(rows)],
        "i long, hin string, exp_had boolean, hout string",
    )
    had, out = jpeg_strip_exif(F.to_binary(F.col("hin"), F.lit("hex")))
    got = df.select(
        "i",
        (had == F.col("exp_had")).alias("had_ok"),
        (F.hex(out) == F.col("hout")).alias("bytes_ok"),
    ).collect()
    assert all(r["had_ok"] and r["bytes_ok"] for r in got)


# Mixed case, digits, punctuation runs, non-ASCII letters (é, ß), the
# two code points whose lowercase or whitespace class differs between
# the engines (İ, vertical tab), the Kelvin sign (lowercases to ASCII
# k), tabs, newlines, empty and NULL.
TOKENIZER_TEXTS = [
    "Hello World, MiXeD cAsE",
    "x9y 123abc4 3.14 007",
    "punct!!! ...?? -- a,b;c (d)",
    "café RÉSUMÉ école",
    "straße MASSE ß",
    "\u212a kelvin \u212aB",
    "\u0130stanbul \u0130I",
    "tab\tsep\t\tx",
    "new\nline\r\nend\n",
    "v\x0bt\x0c",
    "",
    None,
]


@pytest.mark.parametrize("tok", ["_WORDS", "_CASED_WORDS", "_BPE", "_WS", "_PUNCT"])
def test_tokenizer_matches_duckdb_twin(spark, tok):
    """Each tokenizer's Spark Column and its DuckDB fragment yield the
    same token list (NULL for NULL) on adversarial text — the oracles
    of every query built on it depend on this."""
    import duckdb
    import pandas as pd

    tk = getattr(T, tok)
    ids = list(range(len(TOKENIZER_TEXTS)))
    df = spark.createDataFrame(list(zip(ids, TOKENIZER_TEXTS)), "i int, text string")
    got = {r.i: r.t for r in df.select("i", tk.col(F.col("text")).alias("t")).collect()}
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"i": ids, "text": TOKENIZER_TEXTS}))
    want = dict(con.execute(f"SELECT i, {tk.sql('text')} FROM docs").fetchall())
    assert got == want
    assert got[len(ids) - 1] is None and got[len(ids) - 2] == []
