"""The watch-mode commit's session isolation and cadence triggers.

The stream sink plans micro-batch commits on a DEDICATED cloned session
(AQE off, small shuffle parallelism) so the watch conf never touches the
index's primary session — concurrent queries keep AQE and full
parallelism.  These tests pin: the clone engages (not the silent
fallback), the primary session's conf survives a commit untouched, the
fallback path still commits correctly, and the time-based cadence seal
fires even when every subsequent batch is a no-change batch
(``note_empty_batch`` — an at-least-once redelivery run must not starve
the debounce window).
"""

from __future__ import annotations

import time

import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import (
    SealCadence,
    _commit_session,
    upsert_batch,
)


@pytest.fixture()
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("csess_ix"))
    base = synthetic_transcripts(spark, 300, vocab_size=200, seed=7)
    return LexicalIndex.build_transcripts(spark, base, d, num_segments=2, num_buckets=4)


def _batch(spark, n, seed):
    return synthetic_transcripts(spark, n, vocab_size=200, seed=seed)


def test_commit_clone_engages_and_primary_conf_untouched(spark, built):
    before = (
        spark.conf.get("spark.sql.adaptive.enabled", "true"),
        spark.conf.get("spark.sql.shuffle.partitions", "200"),
    )
    upsert_batch(built, _batch(spark, 60, seed=91), 0, cadence=None)
    after = (
        spark.conf.get("spark.sql.adaptive.enabled", "true"),
        spark.conf.get("spark.sql.shuffle.partitions", "200"),
    )
    assert after == before, "watch conf leaked into the primary session"
    # the clone seam must have ENGAGED, not silently fallen back
    sess = _commit_session(built)
    assert sess is not None, "commit clone unavailable — the isolation seam died"
    assert sess is not built.spark
    assert sess.conf.get("spark.sql.adaptive.enabled") == "false"
    assert sess.conf.get("spark.sql.shuffle.partitions") == "8"
    # same clone is reused across batches (one clone per index, cached)
    assert _commit_session(built) is sess
    # and the commit itself landed
    assert not built.search("w3", limit=5).hits.empty


def test_fallback_path_commits_when_clone_unavailable(spark, built):
    built._stream_commit_session = False  # simulate a dead clone seam
    try:
        pre = built.search("w5", limit=200).hits.shape[0]
        upsert_batch(built, _batch(spark, 60, seed=92), 0, cadence=None)
        assert (
            spark.conf.get("spark.sql.adaptive.enabled", "true") != "false"
        ), "fallback save/restore failed to restore the primary session"
        assert built.search("w5", limit=200).hits.shape[0] >= pre
    finally:
        del built._stream_commit_session


def test_note_empty_batch_time_trigger_seals_staged_tail(spark, built):
    cadence = SealCadence(built, every_batches=100, every_sec=3600.0)
    fresh = _batch(spark, 50, seed=93)

    upsert_batch(built, fresh, 0, cadence=cadence)
    assert cadence.pending == 1
    assert built.storage.generation_state().unsealed, (
        "staged batch left no unsealed record rows"
    )

    # a no-change batch after the window elapsed must trip the TIME seal
    # (content-hash skip: the staged copies count as live for dedup, so
    # re-delivering the same batch stages nothing)
    cadence.last_seal = time.time() - 7200.0
    upsert_batch(built, fresh, 1, cadence=cadence)
    assert cadence.pending == 0, "note_empty_batch never sealed the staged tail"
    assert not built.storage.generation_state().unsealed, (
        "seal left unsealed record rows behind"
    )
