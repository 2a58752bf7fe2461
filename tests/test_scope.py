"""Per-thread operator cache scope (plans/scope.py)."""

import threading

import pandas as pd
import pytest
from pyspark import StorageLevel

from tstore_spark.operators.dedup import minhash_near_dup_pairs, prefix_jaccard_pairs
from tstore_spark.plans.scope import op_scope, scoped_cache


@pytest.fixture(scope="module")
def docs(spark):
    texts = ["the quick brown fox jumps over the lazy dog"] * 2 + [
        f"unrelated document number {i} about topic {i % 3}" for i in range(6)
    ]
    return spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_nested_operator_keeps_outer_caches_until_next_top_level_call(spark, docs):
    with op_scope():
        outer = scoped_cache(docs.select("doc_id"))
        pairs = minhash_near_dup_pairs(docs)  # nested: must not release `outer`
        assert _cached(outer)
    # exiting releases nothing: the returned lazy frame still reads warm
    assert _cached(outer)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}
    minhash_near_dup_pairs(docs)  # the next outermost call releases them
    assert not _cached(outer)


def test_exception_inside_scope_resets_depth(spark, docs):
    with pytest.raises(RuntimeError):
        with op_scope():
            with op_scope():
                raise RuntimeError("boom")
    with pytest.raises(ValueError, match="threshold"):
        prefix_jaccard_pairs(docs, threshold=2.0)  # raises inside its scope
    held = scoped_cache(docs.select("doc_id"))
    with op_scope():  # outermost again only if both exits restored the depth
        pass
    assert not _cached(held)


def test_threads_keep_their_own_caches(spark, docs):
    """Thread B's top-level operator calls must not evict thread A's cache,
    neither while A is inside its scope nor after A's scope has exited."""
    a_ready = [threading.Event(), threading.Event()]
    b_done = [threading.Event(), threading.Event()]
    seen: dict = {"a_cached": [], "b_pairs": []}

    def thread_a():
        try:
            with op_scope():
                frame = scoped_cache(docs.select("doc_id", "text"))
                frame.count()
                a_ready[0].set()
                b_done[0].wait(120)
                seen["a_cached"].append(_cached(frame))
            a_ready[1].set()
            b_done[1].wait(120)
            seen["a_cached"].append(_cached(frame))
        except Exception as e:  # surfaced by the assertion below
            seen["a_error"] = e
        finally:
            for ev in a_ready:
                ev.set()

    def thread_b():
        try:
            for phase in range(2):
                a_ready[phase].wait(120)
                seen["b_pairs"].append(minhash_near_dup_pairs(docs).count())
                b_done[phase].set()
        except Exception as e:
            seen["b_error"] = e
        finally:
            for ev in b_done:
                ev.set()

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert "a_error" not in seen and "b_error" not in seen, seen
    assert seen["b_pairs"] == [1, 1]
    assert seen["a_cached"] == [True, True]
