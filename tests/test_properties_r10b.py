"""Property-based tests for the round-10 second-pass operators.

PNG codec: arbitrary pixel grids round-trip bit-exactly (pure Python,
cheap per example). CDC chunking: on arbitrary small-alphabet corpora
the distributed chunker must equal a direct pure-Python reference
(same md5 boundary rule), tile exactly, and re-align after random
edits. Label propagation: the Spark run equals a pure-Python
synchronous replay on arbitrary small graphs. txlog: a random sequence
of append/overwrite/delete ops matches an in-memory model at every
version (the stateful-model property).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# --- PNG round-trip ------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    seed=st.integers(0, 10_000),
)
def test_png_roundtrip_property(w, h, seed):
    import numpy as np

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)
    data = encode_png(img)
    assert np.array_equal(decode_png(data), img)
    assert data == encode_png(img)  # deterministic bytes


# --- CDC vs pure-python reference ---------------------------------------


def _cdc_ref(text: str, window: int = 16):
    """Direct reimplementation of the chunk rule: cut after position
    p+w-1 when md5(text[p-1:p-1+w]) starts '0' with 2nd digit 0-3."""
    n = len(text)
    cuts = set()
    for p in range(1, max(n - window + 1, 0) + 1):
        hx = hashlib.md5(text[p - 1 : p - 1 + window].encode()).hexdigest()
        if hx[0] == "0" and hx[1] in "0123":
            cuts.add(p + window - 1)
    if n > 0:
        cuts.add(n)
    out = []
    start = 1
    for cut in sorted(cuts):
        out.append((start, cut - start + 1))
        start = cut + 1
    return out


corpus_strategy = st.lists(
    st.text(alphabet="abcdef gh", min_size=0, max_size=120),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=corpus_strategy)
def test_cdc_equals_reference_and_tiles(texts, spark):
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.cdc import (
        cdc_chunks,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got: dict[int, list] = {i: [] for i in range(len(texts))}
    for r in cdc_chunks(df).collect():
        got[r.doc_id].append((r.chunk_idx, r.chunk_start, r.chunk_len))
    for i, t in enumerate(texts):
        ref = _cdc_ref(t)
        mine = [(s, ln) for _, s, ln in sorted(got[i])]
        assert mine == ref
        # exact tiling
        pos = 1
        for s, ln in mine:
            assert s == pos and ln >= 1
            pos += ln
        if t:
            assert pos - 1 == len(t)


# --- label propagation vs pure-python sync replay ------------------------


def _lpa_ref(edges, n_iter):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    for n in nodes:
        und.add((n, n))  # self-vote
    lbl = {n: n for n in nodes}
    for _ in range(n_iter):
        votes: dict[int, dict[int, int]] = {n: {} for n in nodes}
        for s, d in und:
            votes[d][lbl[s]] = votes[d].get(lbl[s], 0) + 1
        lbl = {
            n: max(v.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            if (v := votes[n])
            else lbl[n]
            for n in nodes
        }
    return lbl


edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=15,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_strategy, n_iter=st.integers(1, 4))
def test_lpa_equals_python_reference(edges, n_iter, spark):
    from pyspark.sql import Row

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    got = {r.node: r.community
           for r in label_propagation(df, n_iter=n_iter).collect()}
    assert got == _lpa_ref(edges, n_iter)


# --- txlog stateful model ------------------------------------------------


op_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 5)),
        st.tuples(st.just("overwrite"), st.integers(0, 5)),
        st.tuples(st.just("delete_even"), st.just(0)),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ops=op_strategy)
# a delete on an already-empty snapshot is a no-op, so the next append
# lands at the very next version, not one further
@example(ops=[("append", 0), ("delete_even", 0), ("delete_even", 0),
              ("append", 0)])
def test_txlog_matches_in_memory_model(ops, spark):
    import os
    import tempfile

    from cloudwatch_sematext_aws_lambda_log_shipper_spark.sources import txlog

    with tempfile.TemporaryDirectory() as d:
        table = os.path.join(d, "t")
        model: list[set] = []  # expected row set at each version
        cur: set = set()
        nxt = 0
        for op, arg in ops:
            if op == "append":
                rows = set(range(nxt, nxt + arg + 1))
                nxt += arg + 1
                txlog.append(
                    spark.createDataFrame([(k,) for k in sorted(rows)], "k long"),
                    table,
                )
                cur = cur | rows
            elif op == "overwrite":
                rows = set(range(nxt, nxt + arg + 1))
                nxt += arg + 1
                txlog.overwrite(
                    spark.createDataFrame([(k,) for k in sorted(rows)], "k long"),
                    table,
                )
                cur = rows
            else:
                before = txlog.latest_version(table)
                if before is None:
                    continue
                v = txlog.delete_where(spark, table, "k % 2 = 0")
                if not cur:
                    # nothing to rewrite: delete_where commits no version
                    assert v == before == txlog.latest_version(table)
                    continue
                assert v == before + 1
                cur = {k for k in cur if k % 2}
            model.append(set(cur))
        # every historical version equals the model's state at that step
        for v, want in enumerate(model):
            if not want:
                continue  # empty snapshots raise on read by design
            got = {r.k for r in
                   txlog.read_table(spark, table, version=v).collect()}
            assert got == want
