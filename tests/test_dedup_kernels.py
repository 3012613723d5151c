"""Dedup mapInArrow kernels on small hand-made inputs.

The star-forest edge stage of ``q_dedup_clusters`` must give the same
components as the raw Jaccard pairs it reduces, with every label one
hop away; the exact cosine scorer's regularity gate must route a NULL
embedding to the JVM fold instead of crashing.
"""

from __future__ import annotations

import struct

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sigma_rx7_spark import registry
from sigma_rx7_spark.io import load

ALL = registry.load_all()

_SETTINGS = settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)

# A five-word vocabulary makes Jaccard >= 0.8 common: equal sets, two
# empty sets (J(∅,∅)=1) and a 4-set inside a 5-set all pair up.
_WORDS = st.one_of(
    st.none(),
    st.sets(st.sampled_from("abcde"), max_size=5).map(sorted))
_ROW = st.tuples(
    st.one_of(st.none(), st.integers(0, 11)),        # doc_id
    st.sampled_from(["en", "de", None]),            # lang
    st.sampled_from(["web", "wiki", None]),          # source
    _WORDS)
_ROWS = st.lists(_ROW, max_size=14)
# which of (up to) three partitions each block hashes to
_PARTS = st.dictionaries(
    st.tuples(st.sampled_from(["en", "de"]), st.sampled_from(["web", "wiki"])),
    st.integers(0, 2))


def _run_kernel(kernel, rows, parts):
    """Run a mapInArrow worker over ``rows`` as the query's repartition
    by (lang, source) would: each block whole in one partition."""
    import pyarrow as pa

    by_part: dict = {}
    for r in rows:
        by_part.setdefault(parts.get((r[1], r[2]), 0), []).append(r)
    out = []
    for part in by_part.values():
        batch = pa.RecordBatch.from_arrays(
            [pa.array([r[0] for r in part], pa.int64()),
             pa.array([r[1] for r in part], pa.string()),
             pa.array([r[2] for r in part], pa.string()),
             pa.array([r[3] for r in part], pa.list_(pa.string()))],
            names=["doc_id", "lang", "source", "words"])
        for b in kernel(iter([batch])):
            out.extend(zip(b.column("src").to_pylist(),
                           b.column("dst").to_pylist()))
    return out


def _labels(spark, nodes, edges):
    from sigma_rx7_spark.llm.dedup import connected_components

    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.node: r.label for r in connected_components(n, e).collect()}


@given(rows=_ROWS, parts=_PARTS)
@_SETTINGS
# doc 1 sits in two blocks held by different partitions: only the
# propagation loop can merge {1, 2} with {0, 1}
@example(rows=[(1, "en", "web", ["a"]), (2, "en", "web", ["a"]),
               (0, "de", "web", ["b"]), (1, "de", "web", ["b"]),
               (5, "de", "wiki", None), (3, None, "web", ["a"]),
               (None, "en", "web", ["a"]), (4, "en", "wiki", [])],
         parts={("en", "web"): 0, ("de", "web"): 1})
# pairs (0,5) (2,3) (2,5) (3,5) in kernel order: a union-find that
# skips path compression would emit the chain 3 -> 2 -> 0, not a star;
# empty word sets pair up (J(∅,∅)=1); a singleton block pairs nothing
@example(rows=[(0, "en", "web", ["a", "b", "c", "d"]),
               (5, "en", "web", ["a", "b", "c", "d", "e"]),
               (2, "en", "web", ["b", "c", "d", "e"]),
               (3, "en", "web", ["b", "c", "d", "e"]),
               (7, "de", "web", []), (9, "de", "web", []),
               (4, "de", "wiki", ["a", "b"])],
         parts={})
def test_star_forest_has_the_pair_components(spark, rows, parts):
    from sigma_rx7_spark.llm.dedup import (_cluster_pair_batches,
                                           _cluster_star_batches)

    pairs = _run_kernel(_cluster_pair_batches, rows, parts)
    stars = _run_kernel(_cluster_star_batches, rows, parts)
    # a forest of stars: each member points at a smaller root
    assert all(dst < src for src, dst in stars)
    nodes = sorted({r[0] for r in rows if r[0] is not None})
    want = _labels(spark, nodes, pairs)
    assert _labels(spark, nodes, stars) == want
    # final after one propagation round when no doc_id spans blocks
    blocks_of: dict = {}
    for doc_id, lang, src, _ in rows:
        if None not in (doc_id, lang, src):
            blocks_of.setdefault(doc_id, set()).add((lang, src))
    if all(len(b) == 1 for b in blocks_of.values()):
        star_dst = dict(stars)
        assert len(star_dst) == len(stars)
        assert {x: star_dst.get(x, x) for x in nodes} == want


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def test_cosine_null_embedding_takes_jvm_fold(spark, tmp_path):
    # One NULL embedding row: the gate must count it irregular and
    # return the JVM fold, whose pairs skip the NULL vector.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sigma_rx7_spark.llm.dedup import _allpairs_cosine_jvm
    from sigma_rx7_spark.plans.inspect import formatted_plan

    vecs = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], None,
            [0.0, 1.0, 0.0, 0.0], [0.0, 0.95, 0.05, 0.0],
            [0.0, 0.0, 1.0, 0.0]]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(1, len(vecs) + 1), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    got_df = ALL["q_dedup_cosine"].fn(spark, str(tmp_path))
    assert "MapInArrow" not in formatted_plan(got_df)
    got = {(r.a_vec_id, r.b_vec_id): r.cos_sim for r in got_df.collect()}
    want = {(r.a_vec_id, r.b_vec_id): r.cos_sim for r in
            _allpairs_cosine_jvm(load(spark, str(tmp_path), "embeddings"))
            .collect()}
    assert set(got) == set(want) == {(1, 2), (4, 5)}
    for k, v in want.items():
        assert _bits(got[k]) == _bits(v), (k, got[k], v)
