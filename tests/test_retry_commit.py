"""The one optimistic-commit retry policy every snapshot-table writer
shares (``snapshots._retry_commit`` bounded by ``_COMMIT_ATTEMPTS``)."""

from __future__ import annotations

import pytest

from cl_data_frame_spark.sources import snapshots as S


def _flaky(fails: int, exc=FileExistsError):
    """An attempt that raises *exc* on its first *fails* calls."""
    calls = []

    def attempt():
        calls.append(1)
        if len(calls) <= fails:
            raise exc(f"lost race {len(calls)}")
        return len(calls)
    return attempt, calls


@pytest.mark.parametrize("k", [0, 1, S._COMMIT_ATTEMPTS - 1])
def test_returns_on_the_attempt_after_k_losses(k):
    attempt, calls = _flaky(k)
    assert S._retry_commit(attempt, "write", "/t") == k + 1
    assert len(calls) == k + 1


def test_exhausted_attempts_raise_the_same_type_naming_op_and_table():
    attempt, calls = _flaky(10 ** 6)
    with pytest.raises(FileExistsError,
                       match=r"merge lost .* in /some/table"):
        S._retry_commit(attempt, "merge", "/some/table")
    assert len(calls) == S._COMMIT_ATTEMPTS


def test_retry_on_selects_the_retried_type():
    attempt, calls = _flaky(10 ** 6, S.SnapshotTxnConflict)
    with pytest.raises(S.SnapshotTxnConflict, match="matview refresh"):
        S._retry_commit(attempt, "matview refresh", "/v",
                        retry_on=S.SnapshotTxnConflict)
    assert len(calls) == S._COMMIT_ATTEMPTS


def test_other_exceptions_propagate_after_one_attempt():
    attempt, calls = _flaky(1, KeyError)
    with pytest.raises(KeyError):
        S._retry_commit(attempt, "write", "/t")
    assert len(calls) == 1
    # a FileExistsError is not retried when the caller retries on CAS
    attempt, calls = _flaky(1, FileExistsError)
    with pytest.raises(FileExistsError):
        S._retry_commit(attempt, "refresh", "/t",
                        retry_on=S.SnapshotTxnConflict)
    assert len(calls) == 1


def test_attempt_bound_is_read_at_call_time(monkeypatch):
    monkeypatch.setattr(S, "_COMMIT_ATTEMPTS", 9)
    attempt, calls = _flaky(10 ** 6)
    with pytest.raises(FileExistsError):
        S._retry_commit(attempt, "write", "/t")
    assert len(calls) == 9


def test_write_retrying_makes_the_full_attempt_count(monkeypatch):
    calls = []

    def losing_write(*_a, **_kw):
        calls.append(1)
        raise FileExistsError("version already published")
    monkeypatch.setattr(S, "snapshot_write", losing_write)
    with pytest.raises(FileExistsError, match="write lost"):
        S.snapshot_write_retrying(None, "/t")
    assert len(calls) == S._COMMIT_ATTEMPTS
