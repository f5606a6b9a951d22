"""Training-data pipeline operator tests (datapipe module).

Mirrors the reference's agreement-test pattern (SURVEY §5.1): each
approximate algorithm is checked against its exhaustive counterpart
on the same corpus — MinHash-LSH vs exhaustive n-gram Jaccard,
IVF-ANN vs brute-force ANN, SimHash chunk-join vs cross-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


# ------------------------------------------------------------------- dedup

def test_exact_dedup_partitions_corpus(docs):
    from pisa_spark.datapipe.dedup import exact_dedup

    out = exact_dedup(docs).toPandas()
    assert out["n_docs"].sum() == docs.count()
    # keeper is always the smallest doc_id of its group
    assert (out["keeper_doc_id"] >= 0).all()


def test_exact_dedup_finds_planted_duplicates(spark):
    from pisa_spark.datapipe.dedup import exact_dedup

    base = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    dup = base.withColumn("doc_id", F.col("doc_id") + 10_000)
    out = exact_dedup(base.unionByName(dup)).toPandas()
    assert (out["n_docs"] == 2).sum() == 20
    assert (out.loc[out["n_docs"] == 2, "keeper_doc_id"] < 10_000).all()


def test_url_canonicalization_rules(spark):
    """Every canonicalization rule does real work: scheme, www,
    fragment, tracking params (with surviving real params kept),
    default ports, index.html, trailing slashes — and a non-default
    port / non-tracking param is preserved."""
    from pisa_spark.datapipe.dedup import canonical_url_sql

    cases = [
        ("https://example.com/a", "example.com/a"),
        ("http://www.Example.COM/a/", "example.com/a"),
        ("https://example.com/a#frag", "example.com/a"),
        ("https://example.com/a?utm_source=x&utm_medium=y", "example.com/a"),
        ("https://example.com/a?utm_source=x&page=2", "example.com/a?page=2"),
        ("https://example.com/a?page=2&fbclid=abc", "example.com/a?page=2"),
        ("https://example.com:443/a", "example.com/a"),
        ("http://example.com:80/a", "example.com/a"),
        ("https://example.com:8080/a", "example.com:8080/a"),
        ("https://example.com/a/index.html", "example.com/a"),
        ("https://example.com/a/index.htm", "example.com/a"),
        ("https://example.com///", "example.com"),
        ("https://www.example.com", "example.com"),
        # separator-anchored tracking rules: a LONGER param name that
        # merely CONTAINS a tracking name must survive untouched
        # (unanchored matching used to strip 'fbclid=1' out of
        # 'xfbclid=1' and merge distinct pages into one group)
        ("https://example.com/p?xfbclid=1", "example.com/p?xfbclid=1"),
        ("https://example.com/p?shutm_x=3", "example.com/p?shutm_x=3"),
        ("https://example.com/p?utm_a=1&utm_b=2", "example.com/p"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"url": [c[0] for c in cases]}), schema="url string"
    ).withColumn("canon", F.expr(canonical_url_sql("url")))
    got = [r["canon"] for r in df.collect()]
    assert got == [c[1] for c in cases]

    # the shared patterns are valid RE2 and the duckdb-dialect call
    # (with the 'g' replace-all flag) agrees value-for-value
    import duckdb

    con = duckdb.connect()
    for raw, exp in cases:
        expr = canonical_url_sql(f"'{raw}'", dialect="duckdb")
        assert con.sql(f"SELECT {expr}").fetchone()[0] == exp, raw


def test_url_canonicalization_randomized_cross_engine(spark):
    """300 seeded random URL-ish strings assembled from schemes,
    hosts (with ports), path segments, params, and fragments: the
    Spark and DuckDB canonical forms agree value-for-value, and the
    canonicalizer is idempotent (canon(canon(x)) == canon(x))."""
    import random

    import duckdb

    from pisa_spark.datapipe.dedup import canonical_url_sql

    rng = random.Random(7)
    schemes = ["http://", "https://", "HTTPS://", ""]
    hosts = ["example.com", "Sub.Example.org", "foo.net:8080",
             "foo.net:443", "www.bar.io", "bar.io:80"]
    segs = ["a", "B2", "index.html", "index.htm", "x-y", ""]
    params = ["utm_source=1", "a=2", "fbclid=xyz", "utm_campaign=Q",
              "b=", "gclid=9"]
    frags = ["", "#top", "#a/b"]
    urls = []
    for _ in range(300):
        path = "/".join(rng.choice(segs) for _ in range(rng.randint(0, 4)))
        q = "&".join(
            rng.choice(params) for _ in range(rng.randint(0, 3))
        )
        u = (
            rng.choice(schemes) + rng.choice(hosts)
            + ("/" + path if path or rng.random() < 0.5 else "")
            + ("?" + q if q else "")
            + rng.choice(frags)
        )
        urls.append(u)

    sp = (
        spark.createDataFrame(
            pd.DataFrame({"i": range(len(urls)), "url": urls}),
            schema="i int, url string",
        )
        .withColumn("canon", F.expr(canonical_url_sql("url")))
        .orderBy("i")
        .toPandas()["canon"]
        .tolist()
    )
    con = duckdb.connect()
    con.register("u", pd.DataFrame({"i": range(len(urls)), "url": urls}))
    canon_d = canonical_url_sql("url", dialect="duckdb")
    dk = con.sql(
        f"SELECT {canon_d} AS c FROM u ORDER BY i"
    ).fetchall()
    assert sp == [r[0] for r in dk]
    # idempotence under the duckdb dialect (same chain, 'g' flag)
    twice = canonical_url_sql(f"({canon_d})", dialect="duckdb")
    again = con.sql(f"SELECT {twice} AS c FROM u ORDER BY i").fetchall()
    assert [r[0] for r in again] == [r[0] for r in dk]


def test_url_dedup_groups_variants(spark):
    """url_dedup over the gate's deterministic variant synthesis:
    every 5-doc group collapses to one canonical URL with the smallest
    doc_id as keeper."""
    from pisa_spark.datapipe.dedup import url_dedup, url_variants_sql

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    pages = docs.select(
        "doc_id", F.expr(url_variants_sql()).alias("url")
    )
    out = url_dedup(pages).toPandas()
    assert (out["n_docs"] == 5).all()
    assert sorted(out["keeper_doc_id"]) == [i * 5 for i in range(10)]
    assert out["canon_url"].str.match(r"^example\.com/doc/\d{10}$").all()


def test_minhash_lsh_agrees_with_exhaustive_jaccard(spark):
    """On planted near-duplicates, banded LSH must recall the pairs
    the exhaustive shingle-Jaccard operator finds (J=1 pairs have
    identical signatures -> guaranteed; high-J pairs w.h.p.)."""
    from pisa_spark.datapipe.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    base = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    dup = base.withColumn("doc_id", F.col("doc_id") + 10_000)
    corpus = base.unionByName(dup)
    exact = ngram_jaccard_pairs(corpus).toPandas()
    lsh = minhash_lsh_pairs(corpus).toPandas()
    key = lambda df: set(map(tuple, df[["doc_a", "doc_b", "jaccard_micro"]].values))
    assert key(lsh) <= key(exact)
    # identical-text pairs are always recalled
    exact_dups = {(a, b) for a, b, j in key(exact) if j == 1_000_000}
    lsh_pairs = {(a, b) for a, b, _ in key(lsh)}
    assert exact_dups <= lsh_pairs
    assert len(exact_dups) == 30


def test_minhash_bucket_cap_drops_boilerplate(spark):
    """A bucket over MAX_BUCKET (boilerplate text) is excluded from
    pair generation — bounded work — and reported by
    minhash_dropped_buckets instead of silently vanishing."""
    from pisa_spark.datapipe.dedup import (
        minhash_dropped_buckets, minhash_lsh_pairs,
    )

    one = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    clones = one
    for i in range(1, 8):
        clones = clones.unionByName(
            one.withColumn("doc_id", F.col("doc_id") + 1000 * i)
        )
    # 8 identical docs, cap 4: every band bucket holds all 8 -> all
    # buckets dropped -> no candidate pairs at all.
    pairs = minhash_lsh_pairs(clones, max_bucket=4).toPandas()
    assert len(pairs) == 0
    dropped = minhash_dropped_buckets(clones, max_bucket=4).toPandas()
    assert (dropped["bucket_size"] == 8).all() and len(dropped) == 8
    # With the cap above the group size the 28 exact-dup pairs return.
    pairs2 = minhash_lsh_pairs(clones, max_bucket=64).toPandas()
    assert len(pairs2) == 28


def test_cap_helpers_and_shared_dropped_frame(spark):
    """datapipe.caps: overcap_keys doubles as the audit frame, and
    passing it back via dropped= must not change the pair output —
    the one-aggregation sharing contract the gate unions and
    scripts/curate.py rely on. Also pins the helpers' semantics on a
    tiny frame, hinted and unhinted."""
    from pisa_spark.datapipe.caps import drop_overcap, overcap_keys
    from pisa_spark.datapipe.dedup import (
        minhash_bands, minhash_dropped_buckets, minhash_lsh_pairs,
        shingles_df,
    )

    one = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    clones = one
    for i in range(1, 8):
        clones = clones.unionByName(
            one.withColumn("doc_id", F.col("doc_id") + 1000 * i)
        )
    shd = shingles_df(clones, 3).localCheckpoint(eager=True)
    bands = minhash_bands(clones, shd=shd).localCheckpoint(eager=True)
    dropped = minhash_dropped_buckets(clones, max_bucket=4, bands=bands) \
        .localCheckpoint(eager=True)
    assert dropped.count() > 0  # the cap actually engages here
    base = minhash_lsh_pairs(clones, max_bucket=4, shd=shd, bands=bands) \
        .toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    shared = minhash_lsh_pairs(
        clones, max_bucket=4, shd=shd, bands=bands, dropped=dropped
    ).toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    assert base.equals(shared)

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y")], "id int, k string"
    )
    over = overcap_keys(df, ["k"], 2)
    assert [(r["k"], r["bucket_size"]) for r in over.collect()] == [("x", 3)]
    for hint in (True, False):
        kept = drop_overcap(df, ["k"], over, 2, hint_broadcast=hint)
        assert sorted(r["id"] for r in kept.collect()) == [4]


def test_dropped_frame_built_at_smaller_cap_is_refiltered(spark):
    """A ``dropped=`` frame built at a smaller cap than the pair job's
    (a superset of its over-cap keys) must not widen the drop set:
    drop_overcap re-filters it on size > cap, so minhash and simhash
    pairs equal the no-frame output. Corpus: doc A x8 and doc B x3 —
    at cap 4 only A's buckets are over cap; a cap-2 frame also holds
    B's, which without the re-filter would drop B's 3 pairs."""
    from pisa_spark.datapipe.dedup import (
        minhash_bands, minhash_dropped_buckets, minhash_lsh_pairs,
        shingles_df, simhash_chunks, simhash_dropped_chunks, simhash_pairs,
    )

    src = spark.read.parquet(f"{SF}/documents.parquet").orderBy("doc_id").limit(2)
    a_id, b_id = (r["doc_id"] for r in src.select("doc_id").collect())
    parts = []
    for doc_id, copies in ((a_id, 8), (b_id, 3)):
        one = src.filter(F.col("doc_id") == doc_id)
        parts += [one.withColumn("doc_id", F.col("doc_id") + 1000 * i)
                  for i in range(copies)]
    docs = parts[0]
    for p in parts[1:]:
        docs = docs.unionByName(p)
    docs = docs.localCheckpoint(eager=True)

    def pairs(df):
        return df.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)

    shd = shingles_df(docs, 3).localCheckpoint(eager=True)
    bands = minhash_bands(docs, shd=shd).localCheckpoint(eager=True)
    loose = minhash_dropped_buckets(docs, max_bucket=2, bands=bands)
    assert loose.count() > minhash_dropped_buckets(
        docs, max_bucket=4, bands=bands).count()
    base = pairs(minhash_lsh_pairs(docs, max_bucket=4, shd=shd, bands=bands))
    assert len(base) == 3
    assert base.equals(pairs(minhash_lsh_pairs(
        docs, max_bucket=4, shd=shd, bands=bands, dropped=loose)))

    chunks = simhash_chunks(docs).localCheckpoint(eager=True)
    loose = simhash_dropped_chunks(docs, max_bucket=2, chunks=chunks)
    base = pairs(simhash_pairs(docs, max_bucket=4, chunks=chunks))
    assert len(base) == 3
    assert base.equals(pairs(simhash_pairs(
        docs, max_bucket=4, chunks=chunks, dropped=loose)))


def test_connected_components_chain_converges_logarithmically(spark):
    """A 64-node duplicate CHAIN (worst case for min-label
    propagation, which needs O(diameter)=63 rounds) must resolve to
    one component within 8 alternating-star rounds — the SoCC'14
    O(log n) bound is the whole reason that algorithm was chosen."""
    from pisa_spark.datapipe.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs, max_iters=8).toPandas()
    assert len(out) == 64
    assert (out["rep_doc_id"] == 0).all()


def test_connected_components_matches_union_find(spark):
    """Random graphs vs a plain union-find: identical component
    minima for every node, across shapes (forests, cycles, dense
    blobs) and an empty edge set."""
    import random

    from pisa_spark.datapipe.dedup import connected_components

    for seed, n, m in ((1, 40, 25), (2, 40, 60), (3, 25, 90)):
        rng = random.Random(seed)
        edges = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        }
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        want = {
            x: min(y for y in range(n) if find(y) == find(x))
            for x in range(n)
            if any((x in e) for e in edges)
        }
        got = connected_components(
            spark.createDataFrame(
                sorted(edges), "doc_a long, doc_b long"
            )
        ).toPandas()
        assert dict(zip(got["doc_id"], got["rep_doc_id"])) == want
    empty = connected_components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    assert empty.count() == 0


def test_dedup_clusters_keeps_one_representative(spark):
    """Pairs -> components -> representatives over the full corpus:
    planted duplicate TRIPLES collapse to their original's cluster,
    the mapping equals a union-find over the emitted pair set, and
    the kept view (doc_id == rep_doc_id) has exactly one survivor
    per cluster."""
    from pisa_spark.datapipe.dedup import dedup_clusters

    base = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    d1 = base.limit(10).withColumn("doc_id", F.col("doc_id") + 10_000)
    d2 = base.limit(10).withColumn("doc_id", F.col("doc_id") + 20_000)
    corpus = base.unionByName(d1).unionByName(d2)
    out = dedup_clusters(corpus).toPandas().set_index("doc_id")["rep_doc_id"]
    # every clone maps to its original's cluster (identical text =>
    # identical signatures => same LSH bucket => Jaccard 1.0 pair)
    for off in (10_000, 20_000):
        for doc in range(10):
            assert out[doc + off] == out[doc]
    # the mapping must equal a union-find over the SAME pair set the
    # LSH path emits (the corpus has natural near-dups of its own, so
    # the expected reps come from the pairs, not from "untouched ==
    # self")
    from pisa_spark.datapipe.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(corpus).toPandas()
    ids = corpus.select("doc_id").toPandas()["doc_id"].astype(int)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        parent[find(int(a))] = find(int(b))
    comp: dict[int, int] = {}
    for i in parent:
        comp.setdefault(find(i), []).append(i)  # type: ignore[arg-type]
    want = {i: min(comp[find(i)]) for i in parent}
    assert dict(zip(out.index, out)) == want
    # exactly one survivor (doc_id == rep) per cluster
    assert (out.index == out.values).sum() == len(comp)


def test_simhash_chunk_join_equals_cross_join(spark, docs):
    """Pigeonhole exactness: the 4x15-bit chunk-join candidate set
    must yield exactly the cross-join Hamming<=3 pairs (cap lifted —
    the guarded default is pinned by the cap test below)."""
    from pisa_spark.datapipe.dedup import simhash_fingerprints, simhash_pairs

    sub = docs.limit(80)
    out = simhash_pairs(sub, max_bucket=10**9).toPandas()
    fps = simhash_fingerprints(sub).toPandas()
    f = dict(zip(fps["doc_id"], fps["fp"]))
    expect = set()
    ids = sorted(f)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(f[a] ^ f[b]).count("1")
            if h <= 3:
                expect.add((a, b, h))
    assert set(map(tuple, out[["doc_a", "doc_b", "hamming"]].values)) == expect


def test_simhash_chunk_cap_drops_boilerplate(spark):
    """A chunk bucket over max_bucket (boilerplate: many identical
    fingerprints — a 15-bit chunk has only 2^15 values, so at corpus
    scale dominant buckets otherwise go quadratic) is excluded from
    pair generation and reported by simhash_dropped_chunks instead of
    silently vanishing — the minhash MAX_BUCKET contract."""
    from pisa_spark.datapipe.dedup import (
        simhash_chunks, simhash_dropped_chunks, simhash_pairs,
    )

    one = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    clones = one
    for i in range(1, 8):
        clones = clones.unionByName(
            one.withColumn("doc_id", F.col("doc_id") + 1000 * i)
        )
    # 8 identical docs, cap 4: each of the 4 chunk buckets holds all
    # 8 -> every bucket dropped -> no candidate pairs at all.
    chunks = simhash_chunks(clones).localCheckpoint(eager=True)
    pairs = simhash_pairs(clones, max_bucket=4, chunks=chunks).toPandas()
    assert len(pairs) == 0
    dropped = simhash_dropped_chunks(
        clones, max_bucket=4, chunks=chunks
    ).toPandas()
    assert (dropped["bucket_size"] == 8).all() and len(dropped) == 4
    # With the cap above the group size the 28 exact-dup pairs return.
    pairs2 = simhash_pairs(clones, max_bucket=64).toPandas()
    assert len(pairs2) == 28 and (pairs2["hamming"] == 0).all()


def test_embedding_dup_pairs_symmetric_threshold(emb):
    from pisa_spark.datapipe.similarity import COS_TAU_MICRO, embedding_dup_pairs

    out = embedding_dup_pairs(emb).toPandas()
    assert (out["cos_micro"] >= COS_TAU_MICRO).all()
    assert (out["vec_a"] < out["vec_b"]).all()


def test_embedding_dup_prefilter_recall(emb):
    """The IVF-bucketed near-dup operator is a strict subset of the
    exhaustive pairs with pinned recall (mirrors the MinHash recall
    test): identical vectors always share their top cells, and the
    measured recall on this corpus must not regress."""
    from pisa_spark.datapipe.similarity import (
        embedding_dup_pairs, embedding_dup_pairs_exhaustive,
    )

    ex = embedding_dup_pairs_exhaustive(emb).toPandas()
    bucketed = embedding_dup_pairs(emb).toPandas()
    key = lambda df: set(map(tuple, df[["vec_a", "vec_b", "cos_micro"]].values))
    assert key(bucketed) <= key(ex)
    recall = len(key(bucketed)) / max(1, len(key(ex)))
    assert recall >= 0.5  # pinned floor on the fixture corpus
    # planted exact duplicates are ALWAYS recalled (equal vectors ->
    # identical cell assignment)
    sub = emb.limit(10)
    dup = sub.withColumn("vec_id", F.col("vec_id") + 100_000)
    both = sub.unionByName(dup)
    pairs = embedding_dup_pairs(both, tau_micro=999_999).toPandas()
    planted = {(int(r["vec_id"]), int(r["vec_id"]) + 100_000)
               for r in sub.select("vec_id").toPandas().to_dict("records")}
    got = set(map(tuple, pairs[["vec_a", "vec_b"]].values))
    assert planted <= got


def test_embedding_cell_cap_engages_and_is_audited(spark, emb):
    """A planted dominant cell (many near-identical vectors) must be
    DROPPED by max_cell before the candidate self-join — and reported
    by embedding_dropped_cells — while normal cells still pair. The
    quadratic-cell guard mirrors dedup.MAX_BUCKET."""
    from pisa_spark.datapipe.similarity import (
        embedding_dropped_cells, embedding_dup_pairs,
    )

    base = emb.limit(40).toPandas()
    dim = len(base["embedding"].iloc[0])
    # 30 near-identical vectors -> one dominant cell of >= 30 members
    dom = pd.DataFrame(
        {
            "vec_id": [10_000 + i for i in range(30)],
            "embedding": [
                [1.0 + 1e-4 * i] + [0.0] * (dim - 1) for i in range(30)
            ],
        }
    )
    both = spark.createDataFrame(
        pd.concat([base[["vec_id", "embedding"]], dom]),
        schema="vec_id long, embedding array<double>",
    )
    cap = 20
    dropped = embedding_dropped_cells(both, max_cell=cap).toPandas()
    assert len(dropped) >= 1 and (dropped["cell_size"] > cap).all()
    pairs = embedding_dup_pairs(both, tau_micro=999_000, max_cell=cap).toPandas()
    planted = set(range(10_000, 10_030))
    got_ids = set(pairs["vec_a"]) | set(pairs["vec_b"])
    # the dominant cell's members produced no pairs (capped out)...
    assert not (got_ids & planted)
    # ...but WITHOUT the cap they would all pair up
    uncapped = embedding_dup_pairs(
        both, tau_micro=999_000, max_cell=10_000
    ).toPandas()
    un_ids = set(uncapped["vec_a"]) | set(uncapped["vec_b"])
    assert planted <= un_ids


def test_ivf_lloyd_refinement_balances_cells(spark, emb):
    """1-2 Lloyd passes on the first-N seed must reduce cell-size
    imbalance on a corpus where the seed is unlucky (all seed vectors
    drawn from one cluster)."""
    from pisa_spark.datapipe.similarity import (
        _cosm_expr, _dot_expr, _n2_expr, _qarr_expr, ivf_train_centroids,
    )
    from pyspark.sql import Window

    rng = np.random.default_rng(7)
    dim = 8
    # two well-separated clusters; the first 4 vectors (the seed) all
    # come from cluster A -> seeded cells can't split cluster B
    a = rng.normal(loc=[5] * 4 + [0] * 4, scale=0.2, size=(40, dim))
    b = rng.normal(loc=[0] * 4 + [5] * 4, scale=0.2, size=(40, dim))
    mat = np.vstack([a[:4], np.vstack([a[4:], b])])
    pdf = pd.DataFrame(
        {"vec_id": range(len(mat)), "embedding": [list(r) for r in mat]}
    )
    vdf = spark.createDataFrame(pdf, schema="vec_id long, embedding array<double>")

    def cell_sizes(cent_df):
        q = (
            vdf.select("vec_id", F.expr(_qarr_expr()).alias("qarr"))
            .withColumn("n2", F.expr(_n2_expr()))
        )
        cc = cent_df.withColumn("cn2", F.expr(_n2_expr("carr")))
        cos_c = (
            q.crossJoin(F.broadcast(cc))
            .withColumn("dot", F.expr(_dot_expr("qarr", "carr")))
            .withColumn("cm", F.expr(_cosm_expr("dot", "n2", "cn2")))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cm").desc(), F.col("cid").asc()
        )
        sizes = (
            cos_c.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .groupBy("cid").count().toPandas()["count"]
        )
        return sizes.to_numpy()

    seed = ivf_train_centroids(vdf, n_centroids=4, iters=0)
    refined = ivf_train_centroids(vdf, n_centroids=4, iters=2)
    s0, s2 = cell_sizes(seed), cell_sizes(refined)
    # seed: one cell swallows cluster B (max size ~> half the corpus);
    # refined: the dominant cell shrinks
    assert s2.max() < s0.max(), (s0.tolist(), s2.tolist())


# --------------------------------------------------------------------- ANN

def test_ann_topk_matches_numpy_bruteforce(emb):
    from pisa_spark.datapipe.similarity import (
        N_QUERIES, _collect_matrix, _cos_micro, ann_topk,
    )

    out = ann_topk(emb, k=10).toPandas()
    ids, q = _collect_matrix(emb)
    norms = (q * q).sum(axis=1)
    cm = _cos_micro(q @ q.T, norms[:, None], norms[None, :])
    for qi in range(N_QUERIES):
        row = cm[qi].copy()
        mask = ids != ids[qi]
        cand = sorted(
            zip(-row[mask], ids[mask]), key=lambda t: (t[0], t[1])
        )[:10]
        expect = [(int(v), int(-c)) for c, v in cand]
        got = out[out["q_vec_id"] == ids[qi]].sort_values("rank")
        assert list(map(tuple, got[["vec_id", "cos_micro"]].values)) == expect


def test_ivf_topk_subset_of_bruteforce(emb):
    """IVF results are drawn from probed cells only; every reported
    neighbor must appear in the brute-force ranking with the same
    cos_micro, and ranks must be consistent."""
    from pisa_spark.datapipe.similarity import ann_topk, ivf_topk

    bf = ann_topk(emb, k=500).toPandas()
    ivf = ivf_topk(emb, k=5).toPandas()
    bf_scores = {(r.q_vec_id, r.vec_id): r.cos_micro for r in bf.itertuples()}
    for r in ivf.itertuples():
        assert bf_scores[(r.q_vec_id, r.vec_id)] == r.cos_micro
    # per query: ranks 1..n contiguous and scores non-increasing
    for q, g in ivf.groupby("q_vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (np.diff(g["cos_micro"]) <= 0).all()


def test_lsh_topk_subset_of_bruteforce(emb):
    """LSH results are drawn from shared-bucket candidates only; every
    reported neighbor must carry its exact brute-force cos_micro and
    per-query ranks must be contiguous with non-increasing scores."""
    from pisa_spark.datapipe.similarity import ann_topk, lsh_topk

    bf = ann_topk(emb, k=500).toPandas()
    lsh = lsh_topk(emb, k=5).toPandas()
    assert len(lsh) > 0
    bf_scores = {(r.q_vec_id, r.vec_id): r.cos_micro for r in bf.itertuples()}
    for r in lsh.itertuples():
        assert bf_scores[(r.q_vec_id, r.vec_id)] == r.cos_micro
    for q, g in lsh.groupby("q_vec_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (np.diff(g["cos_micro"]) <= 0).all()


def test_lsh_topk_recalls_planted_identical_vector(spark, emb):
    """An identical copy of a query vector shares every band key, so
    it is ALWAYS a candidate and ranks first with cos_micro = 1e6 —
    the LSH twin of minhash's J=1 guaranteed-recall property."""
    from pyspark.sql import functions as F
    from pisa_spark.datapipe.similarity import lsh_topk

    clone = (
        emb.filter(F.col("vec_id") < 3)
        .withColumn("vec_id", F.col("vec_id") + 100_000)
    )
    out = lsh_topk(emb.unionByName(clone), k=3).toPandas()
    for q in range(3):
        top = out[(out["q_vec_id"] == q) & (out["rank"] == 1)].iloc[0]
        assert top["vec_id"] == q + 100_000
        assert top["cos_micro"] == 1_000_000


def test_lsh_bucket_cap_drops_dominant_buckets(spark, emb):
    """With max_bucket=1 every bucket is over-cap (500 vecs in 4x16
    buckets), so no candidates survive — the quadratic-bucket guard
    engages exactly like dedup.MAX_BUCKET."""
    from pisa_spark.datapipe.similarity import lsh_topk

    assert lsh_topk(emb, k=5, max_bucket=1).count() == 0


def test_lsh_hyperplanes_deterministic():
    from pisa_spark.datapipe.similarity import _hyperplanes

    a, b = _hyperplanes(16, 8), _hyperplanes(16, 8)
    assert (a == b).all()
    assert set(np.unique(a)) == {-1, 1}
    # not degenerate: both signs appear in every plane's first 8 dims
    assert (np.abs(a.sum(axis=1)) < 8).any()


# -------------------------------------------------------------- text stats

def test_lang_id_votes(spark):
    from pisa_spark.datapipe.textstats import lang_id

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat is on the mat",
                    "der hund ist nicht mit",
                    "zzz qqq xxx",
                ],
            }
        )
    )
    out = lang_id(df).toPandas().set_index("doc_id")
    assert out.loc[1, "pred_lang"] == "en"
    assert out.loc[2, "pred_lang"] == "de"
    assert out.loc[3, "pred_lang"] == "und"
    assert out.loc[3, "n_hits"] == 0


def test_quality_and_token_counts(spark):
    from pisa_spark.datapipe.textstats import quality_score, token_counts

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["The quick fox. The fox!"]})
    )
    q = quality_score(df).toPandas().iloc[0]
    assert q["n_tokens"] == 5  # the quick fox. the fox!
    assert q["n_types"] == 4
    t = token_counts(df).toPandas().iloc[0]
    assert t["ws_tokens"] == 5
    # [a-z]+ units: the,quick,fox,the,fox + '.' '!' punct
    assert t["bpe_ish_tokens"] == 7
    assert t["n_chars"] == len("The quick fox. The fox!")


def test_repetition_stats_flags_degenerate_docs(spark):
    from pisa_spark.datapipe.textstats import repetition_stats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam " * 20,                       # pure repetition
                    "one two three four five six",       # all-unique
                    # one repeated trigram ("x y z" twice) in 16 tokens
                    "x y z x y z one two three four five six seven "
                    "eight nine ten",
                ],
            }
        )
    )
    out = repetition_stats(df).toPandas().set_index("doc_id")
    # degenerate doc saturates every capped signal
    assert out.loc[1, "max_term_frac_micro"] == 1_000_000
    assert out.loc[1, "top_bigram_frac_micro"] == 1_000_000
    assert out.loc[1, "dup_trigram_frac_micro"] == 1_000_000
    # all-unique doc: no repeated grams at all
    assert out.loc[2, "top_bigram_frac_micro"] == round(2 / 6 * 1e6)
    assert out.loc[2, "dup_trigram_frac_micro"] == 0
    assert out.loc[2, "max_term_frac_micro"] == round(1 / 6 * 1e6)
    # partial repetition lands strictly between
    assert 0 < out.loc[3, "dup_trigram_frac_micro"] < 1_000_000


def test_decontaminate_flags_planted_overlap(spark):
    from pisa_spark.datapipe.dedup import DECON_MOD, DECON_REM, decontaminate

    bench_id = DECON_REM  # doc_id % DECON_MOD == DECON_REM
    assert bench_id % DECON_MOD == DECON_REM
    leaked = "alpha beta gamma delta epsilon"  # one 5-gram, verbatim
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [bench_id, 1, 2],
                "text": [
                    f"benchmark prompt {leaked} answer key",
                    f"scraped page containing {leaked} plus chatter",
                    "clean document with entirely novel phrasing",
                ],
            }
        )
    )
    out = decontaminate(df).toPandas().set_index("doc_id")
    assert bench_id not in out.index  # benchmark rows are not scored
    assert out.loc[1, "contaminated"] == 1 and out.loc[1, "n_bench_shared"] >= 1
    assert out.loc[2, "contaminated"] == 0 and out.loc[2, "n_bench_shared"] == 0

    # external benchmark frame: every input doc is scored
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "text": [f"eval set {leaked} item"]})
    )
    ext = decontaminate(df, bench=bench).toPandas().set_index("doc_id")
    assert set(ext.index) == {bench_id, 1, 2}
    assert ext.loc[1, "contaminated"] == 1
    assert ext.loc[2, "contaminated"] == 0


def test_redact_pii_rules_and_cross_engine(spark):
    import duckdb

    from pisa_spark.datapipe.curation import redact_pii, redact_pii_sql, \
        pii_count_sql

    texts = [
        "contact Bob.Smith+spam@Example.ORG or admin@sub.host.io today",
        "server 10.0.255.7 and 192.168.1.1 rebooted",
        "card 1234567890123456 ssn 987654321 short 12345678",
        "mixed a.b@c.de at 8.8.8.8 ref 123456789",
        "nothing sensitive here at all",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    out = redact_pii(
        spark.createDataFrame(pdf, schema="doc_id long, text string")
    ).toPandas().sort_values("doc_id").reset_index(drop=True)

    assert out.loc[0, "text_redacted"] == "contact <EMAIL> or <EMAIL> today"
    assert out.loc[0, "n_email"] == 2
    assert out.loc[1, "text_redacted"] == "server <IP> and <IP> rebooted"
    assert out.loc[1, "n_ip"] == 2
    assert out.loc[2, "text_redacted"] == "card <ID> ssn <ID> short 12345678"
    assert out.loc[2, "n_idnum"] == 2
    # an email's digits never double-count as an id number
    assert out.loc[3, "n_email"] == 1 and out.loc[3, "n_ip"] == 1
    assert out.loc[3, "n_idnum"] == 1
    assert out.loc[4, "text_redacted"] == texts[4]
    assert out.loc[4, ["n_email", "n_ip", "n_idnum"]].sum() == 0

    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.sql(
        f"""SELECT doc_id, {redact_pii_sql('text', 'duckdb')} AS text_redacted,
               {pii_count_sql('text', 'email', 'duckdb')} AS n_email,
               {pii_count_sql('text', 'ip', 'duckdb')} AS n_ip,
               {pii_count_sql('text', 'idnum', 'duckdb')} AS n_idnum
        FROM t ORDER BY doc_id"""
    ).df()
    assert duck.equals(out[duck.columns])


def test_stratified_sample_deterministic_and_cross_engine(spark):
    import duckdb

    from pisa_spark.datapipe.curation import (
        sample_keep_sql,
        stratified_sample,
        stratified_sample_report,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mix = {"en": 0.5, "fr": 0.25, "de": 0.0}
    kept = stratified_sample(docs, "lang", mix, seed=7)
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    # deterministic: a rerun selects the EXACT same rows
    again = sorted(
        r.doc_id
        for r in stratified_sample(docs, "lang", mix, seed=7)
        .select("doc_id").collect()
    )
    assert ids == again
    # an explicit mix spec drops unmentioned strata and 0-rate strata
    langs = {r.lang for r in kept.select("lang").distinct().collect()}
    assert langs <= {"en", "fr"}

    # cross-engine: DuckDB's keep-decision selects the same rows
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    duck_ids = []
    for stratum, frac in mix.items():
        cond = sample_keep_sql("lang", int(round(frac * 1e6)), 7, "duckdb")
        duck_ids += [
            r[0] for r in con.sql(
                f"SELECT doc_id FROM documents WHERE lang = '{stratum}' "
                f"AND {cond}"
            ).fetchall()
        ]
    assert sorted(duck_ids) == ids

    # report: kept counts consistent, rates near spec
    rep = stratified_sample_report(docs, "lang", mix, seed=7).toPandas() \
        .set_index("stratum")
    assert rep.loc["en", "n_kept"] + rep.loc["fr", "n_kept"] == len(ids)
    assert rep.loc["de", "n_kept"] == 0
    assert abs(rep.loc["en", "kept_micro"] - 500_000) < 150_000
    # scalar-rate form keeps every stratum at the same rate
    flat = stratified_sample_report(docs, "lang", 0.3, seed=11).toPandas()
    assert (flat["n_kept"] > 0).all()


def test_fingerprints_detect_shared_passages(spark):
    from pisa_spark.datapipe.textstats import doc_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"intro words {shared} closing remark",
                    f"other opening {shared} different tail",
                    "completely unrelated text with no overlap at all",
                ],
            }
        )
    )
    fp = doc_fingerprints(df).toPandas()
    s1 = set(fp[fp.doc_id == 1]["fingerprint"])
    s2 = set(fp[fp.doc_id == 2]["fingerprint"])
    s3 = set(fp[fp.doc_id == 3]["fingerprint"])
    assert len(s1 & s2) > 0  # shared passage -> shared fingerprints
    assert len(s1 & s3) == 0


# -------------------------------------------------------------- multimodal

def test_decode_blobs_real_bmp(spark):
    from pisa_spark.datapipe.multimodal import (
        decode_blobs, synth_blob_pixels, synth_image_blobs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    out = (
        decode_blobs(synth_image_blobs(docs))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(out) == 10
    assert set(out["format"]) == {"bmp"}
    # decoded dims + channel sums equal the generator's pixel matrix
    for _, row in out.iterrows():
        rgb = synth_blob_pixels(int(row["doc_id"]))
        assert (row["height"], row["width"]) == rgb.shape[:2]
        ch = rgb.reshape(-1, 3).astype(np.int64)
        assert row["r_sum"] == ch[:, 0].sum()
        assert row["g_sum"] == ch[:, 1].sum()
        assert row["b_sum"] == ch[:, 2].sum()
        # file size = 54-byte header + padded rows
        stride = (3 * int(row["width"]) + 3) // 4 * 4
        assert row["n_bytes"] == 54 + stride * int(row["height"])
    # histogram partitions the PIXEL bytes (not file bytes)
    assert (
        out[["f0", "f1", "f2", "f3"]].sum(axis=1)
        == 3 * out["width"] * out["height"]
    ).all()
    # resize plan: inside the box, no upscale
    assert (out["out_w"] <= 224).all() and (out["out_h"] <= 224).all()
    assert (out["out_w"] <= out["width"]).all()
    assert (out["out_h"] <= out["height"]).all()


def test_bmp_wire_format_pinned_to_public_example():
    """encode_bmp/decode_bmp against the canonical public 2x2 24-bit
    BMP example bytes (the BMP file format's standard documentation
    example: top row blue+green, bottom row red+white, 70 bytes) —
    catches any symmetric writer/reader bug (BGR order, bottom-up
    rows, row padding, header layout) that a round-trip alone would
    self-cancel."""
    from pisa_spark.datapipe.multimodal import decode_bmp, encode_bmp

    expected = bytes.fromhex(
        "424d46000000000000003600000028000000020000000200000001001800"
        "0000000010000000130b0000130b00000000000000000000"
        "0000ffffffff0000"
        "ff000000ff000000"
    )
    rgb = np.array(
        [[[0, 0, 255], [0, 255, 0]],      # top row: blue, green
         [[255, 0, 0], [255, 255, 255]]],  # bottom row: red, white
        dtype=np.uint8,
    )
    assert encode_bmp(rgb) == expected
    meta = decode_bmp(expected)
    assert (meta["width"], meta["height"]) == (2, 2)
    assert (meta["r_sum"], meta["g_sum"], meta["b_sum"]) == (510, 510, 510)

    # top-down variant (negative height) must decode identically
    top_down = bytearray(expected)
    top_down[22:26] = (-2).to_bytes(4, "little", signed=True)
    # rows swap when stored top-down
    top_down[54:62], top_down[62:70] = expected[62:70], expected[54:62]
    assert decode_bmp(bytes(top_down)) == meta

    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"\x89PNG" + b"\x00" * 64)
    with pytest.raises(ValueError, match="unsupported"):
        bad = bytearray(expected)
        bad[28] = 8  # 8 bpp
        decode_bmp(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(expected[:-4])


def test_resize_dims_aspect_and_bounds():
    from pisa_spark.datapipe.multimodal import resize_dims

    assert resize_dims(100, 50) == (100, 50)          # no upscale
    assert resize_dims(448, 224) == (224, 112)        # width-limited
    assert resize_dims(224, 448) == (112, 224)        # height-limited
    assert resize_dims(640, 480) == (224, 168)
    assert resize_dims(10_000, 1) == (224, 1)         # floor clamps to 1
    w, h = resize_dims(641, 479)
    # exact integer floor of the rational scale
    assert (w, h) == (224, (479 * 224) // 641)


def test_frame_sample_deterministic(spark):
    from pisa_spark.corpus import pages_from_documents
    from pisa_spark.datapipe.multimodal import FRAME_MOD, frame_sample

    pages = pages_from_documents(spark, SF).limit(5)
    a = frame_sample(pages).toPandas().sort_values(["doc_id", "frame_id"])
    b = frame_sample(pages).toPandas().sort_values(["doc_id", "frame_id"])
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    assert a.groupby("doc_id")["frame_id"].count().between(1, FRAME_MOD).all()


def test_blob_meta_oracle_counts_bytes_not_chars(spark):
    """Non-ASCII text: Spark's octet_length counts UTF-8 BYTES; the
    DuckDB oracle must too (length() on VARCHAR is a CHARACTER count
    — it used to diverge on any multibyte char, changing n_bytes AND
    the frame_sample row count keyed off n_bytes % FRAME_MOD)."""
    import duckdb
    import pandas as pd

    from pisa_spark.datapipe.multimodal import (
        blob_meta, blob_meta_oracle, frame_sample, frame_sample_oracle,
    )

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["café au lait", "naïve — résumé", "plain ascii"],
        "lang": ["fr", "fr", "en"],
    })
    pages = spark.createDataFrame(pdf).selectExpr(
        "doc_id",
        "encode(concat('<html><body>', text, '</body></html>'), 'utf-8')"
        " AS html",
    )
    got = blob_meta(pages).toPandas().sort_values("doc_id")
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql(blob_meta_oracle()).df().sort_values("doc_id")
    assert got["n_bytes"].tolist() == want["n_bytes"].tolist()
    assert got["sha256"].tolist() == want["sha256"].tolist()
    # the derived frame plan (row count depends on the byte count)
    gf = frame_sample(pages).toPandas().sort_values(["doc_id", "frame_id"])
    wf = con.sql(frame_sample_oracle()).df().sort_values(
        ["doc_id", "frame_id"])
    assert gf["frame_id"].tolist() == wf["frame_id"].tolist()
    assert gf["frame_hash"].tolist() == wf["frame_hash"].tolist()


def test_pack_sequences_plan(spark):
    """Sequence packing (datapipe/packing.py, concat-and-chunk):
    cross-engine value-exact vs the window-prefix-sum oracle, full
    coverage (every doc's tokens land exactly once), every sequence
    filled to seq_len except the stream's last, and the DISTRIBUTED
    prefix sum is parallelism-independent (same plan at any input
    partitioning — the assign_global_ids contract)."""
    import duckdb

    from pisa_spark.datapipe.packing import (
        doc_token_counts, pack_sequences, pack_sequences_oracle,
    )

    L = 96
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = pack_sequences(docs, seq_len=L).toPandas().sort_values(
        ["seq_id", "doc_id"]).reset_index(drop=True)

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
            "'/root/testdata/sf0.001/documents.parquet')")
    want = con.sql(pack_sequences_oracle(L)).df().sort_values(
        ["seq_id", "doc_id"]).reset_index(drop=True)
    assert len(got) == len(want) > 500
    for c in got.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    # coverage: per-doc chunk lengths sum to the doc's token count
    chunk = (got["doc_tok_end"] - got["doc_tok_start"])
    per_doc = chunk.groupby(got["doc_id"]).sum()
    cnt = doc_token_counts(docs).toPandas().set_index("doc_id")["n_tokens"]
    assert all(per_doc[d] == cnt[d] for d in per_doc.index)
    assert set(per_doc.index) == set(cnt[cnt > 0].index)
    # fill: every sequence holds exactly L tokens except the last
    per_seq = chunk.groupby(got["seq_id"]).sum().sort_index()
    assert (per_seq.iloc[:-1] == L).all()
    assert 0 < per_seq.iloc[-1] <= L
    # in-sequence offsets: chunks within a sequence tile [0, fill)
    starts = got.sort_values(["seq_id", "seq_off"])
    for sid, g in starts.groupby("seq_id"):
        offs = g["seq_off"].to_numpy()
        lens = (g["doc_tok_end"] - g["doc_tok_start"]).to_numpy()
        assert offs[0] == 0
        assert ((offs[:-1] + lens[:-1]) == offs[1:]).all()

    # parallelism independence: a skewed repartitioning of the input
    # must produce the identical plan
    got7 = pack_sequences(
        docs.repartition(7), seq_len=L
    ).toPandas().sort_values(["seq_id", "doc_id"]).reset_index(drop=True)
    for c in got.columns:
        assert (got[c].to_numpy() == got7[c].to_numpy()).all(), c


def test_materialize_sequences(spark):
    """The shard writer's stitch: sequences materialize to exactly
    seq_len tokens (except the last), and the concatenation of all
    sequences equals the concatenation of all docs' tokens in doc_id
    order (the pack plan's stream, reassembled)."""
    from pisa_spark.datapipe.packing import materialize_sequences

    L = 96
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seqs = materialize_sequences(docs, seq_len=L).toPandas() \
        .sort_values("seq_id").reset_index(drop=True)
    assert (seqs["n_tokens"].iloc[:-1] == L).all()
    assert 0 < seqs["n_tokens"].iloc[-1] <= L
    assert (seqs["tokens"].str.len() == seqs["n_tokens"]).all()
    # stream identity
    stream = [t for toks in seqs["tokens"] for t in toks]
    pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    want = [t for txt in pdf["text"] for t in txt.lower().split()]
    assert stream == want


def test_pack_sequences_exact_beyond_double_precision(spark):
    """The ADVICE r3 fix: sequence-boundary ids use integer DIV
    (packing.seq_span_exprs — the exact expressions pack_sequences
    plugs into its explode), so the math stays exact when the token
    stream passes 2^53 (double `/`-then-cast loses ULPs there — real
    at 100 TB). Offsets around 2^55 must equal Python exact-integer
    `//`; the old double form provably diverges on these inputs."""
    import pandas as pd

    from pisa_spark.datapipe.packing import seq_span_exprs

    L = 2048
    rows = []
    base = 1 << 55
    for i in range(64):
        # offsets straddling sequence boundaries at huge magnitude,
        # including exact-multiple and off-by-one cases
        tok_start = base + i * ((1 << 31) + 13) + (i % 3) - 1
        n = 1 + (i * 997) % (4 * L)
        rows.append((tok_start, n))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["tok_start", "n_tokens"]),
        schema="tok_start long, n_tokens long",
    )
    first, last = seq_span_exprs(L)
    got = df.select(
        "tok_start", "n_tokens",
        first.alias("first_seq"), last.alias("last_seq"),
    ).toPandas()
    diverged = 0
    for r in got.itertuples(index=False):
        exp_first = r.tok_start // L
        exp_last = (r.tok_start + r.n_tokens - 1) // L
        assert (r.first_seq, r.last_seq) == (exp_first, exp_last), r
        # the retired double form loses these rows
        if int(float(r.tok_start) / L) != exp_first:
            diverged += 1
    assert diverged > 0, "test inputs failed to exercise the 2^53 regime"
