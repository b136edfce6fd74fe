"""Property-based tests (hypothesis): Spark operators vs pure-Python
reference implementations on randomized inputs — the randomized analog
of the DuckDB oracle gate (fixtures can only encode the cases we
thought of; these hunt for the ones we didn't).

Each example batches many rows into ONE DataFrame so the per-example
Spark roundtrip cost is paid once; max_examples is kept small because
every example is a full distributed job."""

from __future__ import annotations

import hashlib
import re
from unittest import mock

from hypothesis import example, given, settings, strategies as st

from otel2pv_spark.functions import prep

SET = settings(max_examples=5, deadline=None)

WORD = st.text(alphabet="abcdefgh ", min_size=0, max_size=20)
PII = st.sampled_from(
    [
        "x@y.io",
        "a.b+c@test-site.org",
        "https://ex.com/p?id=1234567890",
        "http://a.b/c",
        "10.0.0.1",
        "255.255.255.255",
        "123456789",
        "98765432101234",
        "12345678",      # below the 9-digit threshold: kept
        "1.2.3",         # not an IPv4: kept
        "EMAIL>@d.ee",   # adversarial: looks like a replacement token
    ]
)
TEXT = st.lists(WORD | PII, min_size=0, max_size=12).map(" ".join)


def _py_scrub(text: str):
    """Reference scrub: same staged pipeline via Python re (Java regex
    and Python re agree on this lookaround-free portable subset)."""
    counts = {}
    for name, pat, token in prep.SCRUB_STAGES:
        counts[f"n_{name}"] = len(re.findall(pat, text))
        text = re.sub(pat, token, text)
    return text, counts


@SET
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_scrub_matches_python_reference(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in prep.scrub_text(df).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        want_text, want_counts = _py_scrub(t)
        assert got[i]["scrubbed"] == want_text, repr(t)
        for k, v in want_counts.items():
            assert got[i][k] == v, (repr(t), k)
        assert got[i]["n_redactions"] == sum(want_counts.values())


def _py_frac(doc_id: int, salt: str) -> float:
    h = hashlib.md5(f"{doc_id}#{salt}".encode()).hexdigest()
    return int(h[:8], 16) / 4294967296.0


@SET
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=40, unique=True))
def test_split_matches_python_reference(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {r["doc_id"]: r for r in prep.assign_split(df).collect()}
    for i in ids:
        f = _py_frac(i, "split-v1")
        want = "train" if f < 0.9 else ("val" if f < 0.95 else "test")
        assert got[i]["split"] == want
        assert abs(got[i]["hash_frac"] - round(f, 6)) < 1e-9


def _py_components(edges, nodes):
    """Reference union-find with path compression."""
    parent = {n: n for n in nodes}
    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label = min member id per component
    groups: dict[int, list[int]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in groups.values() for n in ms}


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=0,
        max_size=60,
    )
)
@example(edges=[(i, j) for i in range(8) for j in range(i + 1, 8)])
def test_connected_components_matches_union_find(spark, edges):
    """Large-star/small-star vs union-find on random graphs (self-loops
    and duplicate edges included; chains, cycles, isolated nodes), on
    every path: rounds only (driver bound 0), driver finish only (bound
    above every graph), and a bound of 10, which a dense graph falls
    below after its first round (the K8 example: 28 edges, then a
    7-edge star)."""
    from otel2pv_spark.functions import dedup as dd

    nodes = list(range(31))
    ndf = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
    edf = spark.createDataFrame(
        edges or [(0, 0)], ["doc_a", "doc_b"]
    )  # empty DataFrames need a schema; (0,0) is a self-loop no-op
    want = _py_components([e for e in edges if e[0] != e[1]], nodes)
    for bound in (0, 1 << 20, 10):
        with mock.patch.object(dd, "_DRIVER_FINISH_EDGES", bound):
            got = {
                r["doc_id"]: r["component"]
                for r in dd.connected_components(edf, nodes=ndf).collect()
            }
        assert got == want, bound


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=64),
)
def test_pack_matches_python_reference(spark, tok_counts, budget):
    rows = [(i, "w " * n) for i, n in enumerate(tok_counts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["shard"], r["doc_id"], r["pack_id"], r["pack_offset"], r["n_tokens"])
        for r in prep.pack_sequences(df, budget=budget, n_shards=4).collect()
    )
    # reference: shard by the same md5, lay out head-to-tail per shard
    by_shard: dict[int, list[int]] = {}
    for i, n in enumerate(tok_counts):
        h = hashlib.md5(f"{i}#pack-v1".encode()).hexdigest()
        by_shard.setdefault(int(h[:8], 16) % 4, []).append(i)
    want = []
    for shard, members in by_shard.items():
        cum = 0
        for i in sorted(members):
            want.append((shard, i, cum // budget, cum % budget, tok_counts[i]))
            cum += tok_counts[i]
    assert got == sorted(want)


def _py_repetition(tokens_list, n):
    """Reference top/dup n-gram fractions via collections.Counter."""
    from collections import Counter

    grams = [" ".join(tokens_list[i:i + n]) for i in range(len(tokens_list) - n + 1)]
    if not grams:
        return 0, 0.0, 0.0
    c = Counter(grams)
    top = max(c.values())
    dup = sum(v for v in c.values() if v >= 2)
    return len(grams), round(top / len(grams), 6), round(dup / len(grams), 6)


@SET
@given(st.lists(st.lists(st.sampled_from("ab c dd e".split()), min_size=0, max_size=30), min_size=1, max_size=20))
def test_repetition_matches_counter_reference(spark, docs):
    from otel2pv_spark.functions import textstats as ts

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in ts.repetition_scores(df).collect()}
    for i, toks in enumerate(docs):
        for n in (2, 3, 4):
            n_g, top, dup = _py_repetition(toks, n)
            assert got[i][f"n_{n}grams"] == n_g, (toks, n)
            assert abs(got[i][f"top{n}_frac"] - top) < 1e-9, (toks, n)
            assert abs(got[i][f"dup{n}_frac"] - dup) < 1e-9, (toks, n)


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=200), min_size=1, max_size=15),
    st.integers(min_value=2, max_value=50),
    st.integers(min_value=0, max_value=40),
)
def test_chunks_match_python_reference(spark, doc_lens, chunk_tokens, overlap):
    from hypothesis import assume

    from otel2pv_spark.functions import prep

    assume(overlap < chunk_tokens)
    stride = chunk_tokens - overlap
    rows = [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        for r in prep.chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect()
    )
    want = []
    for i, n in enumerate(doc_lens):
        toks = [f"t{j}" for j in range(n)]
        n_chunks = 1 + max(0, -(-(n - chunk_tokens) // stride)) if n > chunk_tokens else 1
        for k in range(n_chunks):
            piece = toks[k * stride: k * stride + chunk_tokens]
            want.append((i, k, " ".join(piece), len(piece)))
    assert got == sorted(want)


@SET
@given(
    st.lists(
        st.tuples(st.sampled_from("pqr"), st.integers(0, 9)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 5),
)
def test_cap_per_group_matches_python_reference(spark, rows, cap):
    """Two-stage top-n == sort-and-slice per group in Python."""
    data = [(i, g, float(s)) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "source", "score"])
    got = {
        r["doc_id"]: (r["rank"], r["kept"])
        for r in prep.cap_per_group(
            df, group_col="source", cap=cap, order_col="score", blocks=4
        ).collect()
    }
    want = {}
    by_g = {}
    for i, g, s in data:
        by_g.setdefault(g, []).append((i, s))
    for g, members in by_g.items():
        members.sort(key=lambda t: (-t[1], t[0]))
        for rank0, (i, _) in enumerate(members):
            rank = rank0 + 1
            want[i] = (rank, True) if rank <= cap else (None, False)
    assert got == want


@SET
@given(st.lists(st.text(alphabet="abc d", min_size=0, max_size=16), max_size=20))
def test_bpe_pair_counts_matches_counter_reference(spark, texts):
    from collections import Counter

    from otel2pv_spark.functions import textstats as ts

    df = spark.createDataFrame(
        list(enumerate(texts)) or [(0, "")], ["doc_id", "text"]
    )
    got = {r["pair"]: r["count"] for r in ts.bpe_pair_counts(df).collect()}
    want = Counter()
    for t in texts:
        for w in [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]:
            for x, y in zip(w, w[1:]):
                want[f"{x} {y}"] += 1
    assert got == dict(want)


URL_HOST = st.sampled_from(
    ["Example.COM", "www.example.com", "WWW.Shop.Example.org", "a.b.co"]
)
URL_PATH = st.sampled_from(["", "/", "/p", "/P/Q", "/p/q//", "/p%20x"])
URL_QS = st.sampled_from(
    ["", "?a=1", "?utm_source=x", "?b=2&a=1", "?utm_a=1&z=9&utm_b=2", "?a=1&a=1"]
)
URL_FRAG = st.sampled_from(["", "#f", "#a/b?c=1"])
URL_SCHEME = st.sampled_from(["http://", "HTTPS://", "ftp://"])
URLS = st.builds(
    lambda s, h, p, q, f: s + h + p + q + f,
    URL_SCHEME, URL_HOST, URL_PATH, URL_QS, URL_FRAG,
)


@SET
@given(st.lists(URLS, min_size=1, max_size=12))
def test_normalize_urls_idempotent_and_invariant(spark, urls):
    """normalize(normalize(u)) == normalize(u), and the canonical form
    never retains scheme, fragment, utm params, or a trailing slash."""
    rows = [(i, u) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    once = prep.normalize_urls(df)
    got = {r.doc_id: r.norm_url for r in once.collect()}
    again = prep.normalize_urls(
        once.select("doc_id", once.norm_url.alias("url"))
    )
    got2 = {r.doc_id: r.norm_url for r in again.collect()}
    assert got == got2
    for v in got.values():
        assert "://" not in v and "#" not in v and "utm_" not in v
        assert not v.endswith("/")
