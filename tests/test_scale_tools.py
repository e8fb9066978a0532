"""The scale-measurement substrate (tools/gen_scale_corpus.py) has
invariants PERF.md's scaling table depends on — pin them at a tiny
multiplier so the tool can't silently regress into the naive-copy
behavior it exists to avoid (identical replicas would weld into one
near-dup cluster and make every 'linear growth' reading meaningless).

Pure pyarrow/numpy: no Spark session, runs in milliseconds.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

SRC = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale"))
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_scale_corpus.py"),
         "--mult", "3", "--src", SRC, "--out", out],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return os.path.join(out, "x3")


def test_row_counts_and_key_disjointness(corpus):
    for tab, key in (("documents", "doc_id"), ("events", "event_id"),
                     ("orders", "o_orderkey"), ("customer", "c_custkey"),
                     ("embeddings", "vec_id")):
        src = pq.read_table(f"{SRC}/{tab}.parquet")
        got = pq.read_table(f"{corpus}/{tab}.parquet")
        assert got.num_rows == 3 * src.num_rows, tab
        ids = got.column(key).to_pylist()
        assert len(ids) == len(set(ids)), f"{tab}.{key} collides"


def test_fk_join_stays_valid(corpus):
    orders = set(pq.read_table(f"{corpus}/orders.parquet",
                               columns=["o_orderkey"])
                 .column("o_orderkey").to_pylist())
    lines = set(pq.read_table(f"{corpus}/lineitem.parquet",
                              columns=["l_orderkey"])
                .column("l_orderkey").to_pylist())
    assert lines <= orders


def test_replica_dialects_differ_but_preserve_structure(corpus):
    src = pq.read_table(f"{SRC}/documents.parquet")
    got = pq.read_table(f"{corpus}/documents.parquet")
    n = src.num_rows
    texts = got.column("text").to_pylist()
    chars = got.column("n_chars").to_pylist()
    orig = src.column("text").to_pylist()
    # replica 0 is byte-identical; replicas 1,2 differ from it and from
    # each other (the dialect transform), with the SAME word count
    assert texts[:n] == orig
    for i in (1, 2):
        rep = texts[i * n:(i + 1) * n]
        assert rep != orig
        assert [len(t.split(" ")) for t in rep] == [
            len(t.split(" ")) for t in orig
        ]
        # every 3rd word carries the replica marker; the others are
        # untouched — within-replica shingle structure is preserved
        for a, b in zip(orig[:20], rep[:20]):
            wa, wb = a.split(" "), b.split(" ")
            for j, (x, y) in enumerate(zip(wa, wb)):
                if j % 3 == 0:
                    assert y == f"{x}~{i}"
                else:
                    assert y == x
    # n_chars recomputed from the transformed text
    assert chars == [len(t) for t in texts]


def test_embedding_roll_preserves_within_replica_geometry(corpus):
    src = pq.read_table(f"{SRC}/embeddings.parquet")
    got = pq.read_table(f"{corpus}/embeddings.parquet")
    n = src.num_rows
    orig = [np.array(v) for v in src.column("embedding").to_pylist()]
    rep1 = [np.array(v)
            for v in got.column("embedding").to_pylist()[n:2 * n]]
    # a dimension roll is norm- and inner-product-preserving within the
    # replica, while de-aligning vectors across replicas
    for a, b in zip(orig[:10], rep1[:10]):
        assert np.allclose(np.linalg.norm(a), np.linalg.norm(b))
        assert np.allclose(b, np.roll(a, 1))
    assert float(np.dot(orig[0], orig[1])) == pytest.approx(
        float(np.dot(rep1[0], rep1[1])), rel=1e-6
    )


def test_events_timestamp_type_preserved(corpus):
    a = pq.ParquetFile(f"{SRC}/events.parquet").schema.column(1)
    b = pq.ParquetFile(f"{corpus}/events.parquet").schema.column(1)
    assert str(a.logical_type) == str(b.logical_type)


@pytest.fixture(scope="module")
def skew_corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale_skew"))
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_scale_corpus.py"),
         "--mult", "3", "--src", SRC, "--out", out, "--skew"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return os.path.join(out, "x3skew")


def test_skew_constant_volume(corpus, skew_corpus):
    """--skew redistributes keys, never adds or drops rows."""
    for tab in ("documents", "events", "lineitem", "orders"):
        a = pq.ParquetFile(f"{corpus}/{tab}.parquet").metadata.num_rows
        b = pq.ParquetFile(f"{skew_corpus}/{tab}.parquet").metadata.num_rows
        assert a == b, tab


def test_skew_events_hot_users(skew_corpus):
    """~50% of events land on the 8 hot users (ids 0-7), deterministic."""
    t = pq.read_table(f"{skew_corpus}/events.parquet",
                      columns=["event_id", "user_id"])
    uid = np.asarray(t.column("user_id").to_pylist())
    # the selection is a pure function of event_id: regenerating can't
    # move an event between the hot and uniform sets
    ev = np.asarray(t.column("event_id").to_pylist(), dtype=np.uint64)
    mask = ((ev * np.uint64(2654435761)) % np.uint64(2**32)) \
        % np.uint64(100) < 50
    assert 0.4 < float(np.mean(mask)) < 0.6
    assert np.array_equal(uid[mask], (ev[mask] % 8).astype(uid.dtype))
    # the 8 hot users carry ~half of ALL events — far above the non-hot
    # per-user average (the gap widens with the multiplier: hot-user
    # mass grows with volume, tail users stay constant-sized)
    hot = np.isin(uid, np.arange(8))
    hot_per_user = hot.sum() / 8
    tail_users = len(set(uid[~hot].tolist()))
    tail_avg = (~hot).sum() / max(tail_users, 1)
    assert hot_per_user > 3 * tail_avg, (hot_per_user, tail_avg)


def test_skew_lineitem_hot_part(skew_corpus):
    """~30% of lines on part key 0; every key stays in the part domain."""
    lpk = np.asarray(
        pq.read_table(f"{skew_corpus}/lineitem.parquet",
                      columns=["l_partkey"]).column("l_partkey").to_pylist()
    )
    share = float(np.mean(lpk == 0))
    assert 0.2 < share < 0.4, share
    parts = set(pq.read_table(f"{skew_corpus}/part.parquet",
                              columns=["p_partkey"])
                .column("p_partkey").to_pylist())
    assert set(lpk.tolist()) <= parts


def test_skew_documents_hot_tokens_but_replicas_distinct(skew_corpus):
    """Hot tokens reach corpus-wide document frequency (the `have`/`the`
    analogue) while the dialect suffix still keeps replicas distinct —
    the skewed corpus must not degenerate into welded duplicates."""
    texts = pq.read_table(f"{skew_corpus}/documents.parquet",
                          columns=["text"]).column("text").to_pylist()
    long_docs = [t for t in texts if len(t.split(" ")) >= 9]
    with_hot = sum(
        1 for t in long_docs
        if any(w.startswith("zz") for w in t.split(" "))
    )
    assert with_hot == len(long_docs)  # df(zz*) ≈ corpus size
    n = pq.read_table(f"{SRC}/documents.parquet").num_rows
    # replica 1 still carries the ~1 marker → cross-replica distinctness
    assert any("~1" in t for t in texts[n:2 * n])
    assert texts[:n] != texts[n:2 * n]
