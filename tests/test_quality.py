"""Resource discipline of the quality-audit queries."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from sigma_rx7_spark.operators import quality


def test_quality_audit_releases_cache_on_error(spark, sf_dir, monkeypatch):
    # q_quality_audit persists its per-key orders relation while it
    # builds the audit; a failure part-way through construction must
    # not leave that entry in the CacheManager.
    persisted: list[DataFrame] = []
    df_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    real_persist, real_violations = df_cls.persist, quality._violations

    def spy_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def failing_violations(name, cond):
        if name == "qty_range":  # built after per_key is persisted
            raise RuntimeError("injected failure")
        return real_violations(name, cond)

    monkeypatch.setattr(df_cls, "persist", spy_persist)
    monkeypatch.setattr(quality, "_violations", failing_violations)
    with pytest.raises(RuntimeError, match="injected failure"):
        quality.q_quality_audit(spark, sf_dir)
    assert persisted
    # storageLevel asks the CacheManager for the plan's entry
    leaked = [df for df in persisted
              if df.storageLevel.useMemory or df.storageLevel.useDisk]
    assert not leaked
