"""The parse kernels' GC discipline (operators.extract.gc_per_batch),
driven without Spark: the worker's GC state is restored however the
kernel ends, and each batch's cyclic DOMs are freed before the next
batch is handed out."""

from __future__ import annotations

import gc
import weakref

import pytest

from html_parser_spark.engine import parse
from html_parser_spark.operators.extract import gc_per_batch


@pytest.fixture(params=[True, False], ids=["gc_on", "gc_off"])
def gc_state(request):
    was = gc.isenabled()
    if request.param:
        gc.enable()
    else:
        gc.disable()
    yield request.param
    if was:
        gc.enable()
    else:
        gc.disable()


def kernel(batches, fail_at=None):
    """The shape every parse kernel has: a generator over the helper."""
    for k, pdf in enumerate(gc_per_batch(batches)):
        if k == fail_at:
            raise ValueError("consumer failed")
        yield pdf


def assert_restored(enabled):
    assert gc.isenabled() is enabled
    assert gc.get_freeze_count() == 0


def test_restored_after_full_drain(gc_state):
    it = kernel(iter(range(3)))
    assert next(it) == 0
    assert not gc.isenabled() and gc.get_freeze_count() > 0
    assert list(it) == [1, 2]
    assert_restored(gc_state)


def test_restored_after_early_close(gc_state):
    # what limit() does: the consumer stops pulling and closes
    it = kernel(iter(range(3)))
    next(it)
    it.close()
    assert_restored(gc_state)


def test_restored_after_consumer_raises(gc_state):
    with pytest.raises(ValueError):
        list(kernel(iter(range(3)), fail_at=1))
    assert_restored(gc_state)


class _Probe:
    """Weakref-able object reachable only through a DOM (the engine's
    slotted nodes take no weakrefs): it dies exactly when the DOM does."""


def _cyclic_document_ref():
    doc = parse(b"<p>a<b>b</b></p>").document
    assert doc.children[0].parent is doc  # parent<->child cycle
    probe = _Probe()
    doc.children.append(probe)
    return weakref.ref(probe)


def test_batch_dom_dead_before_next_batch():
    refs = []
    for k, _pdf in enumerate(gc_per_batch(iter(range(4)))):
        assert all(r() is None for r in refs), f"batch {k - 1} DOM alive"
        ref = _cyclic_document_ref()
        # no refcount path frees a cycle: only the per-batch collection can
        assert ref() is not None
        refs.append(ref)
    assert refs[-1]() is None
