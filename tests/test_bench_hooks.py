"""The benchmark's traced run wraps engine functions by name
(``perfbench.layers.install``); a refactor that drops or renames one of
them must fail here, not in a traced benchmark run."""

from __future__ import annotations

import os

from perfbench import layers, trace


def test_layer_hooks_install_and_restore(spark):
    tracer = trace.Tracer(spark, os.getpid())
    try:
        layers.install(tracer)
        patches = list(tracer._patches)
        assert patches
        for owner, attr, original in patches:
            assert getattr(owner, attr) is not original, (owner, attr)
    finally:
        tracer.restore()
    for owner, attr, original in patches:
        assert getattr(owner, attr) is original, (owner, attr)
