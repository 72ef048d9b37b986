"""LockFileCAS stale-lock breaking under deterministic interleavings.

Each test drives two lock clients on one sentinel path step by step, so
the interleaving that used to let a stalled janitor delete a live
holder's sentinel is replayed exactly, without threads or timing."""

from __future__ import annotations

import os
import time

import pytest

from who_focus_crawler_spark.checkpoint.cas import LockFileCAS


def _client(path):
    return LockFileCAS(path, lambda: None, timeout=0.05, stale_after=60.0)


def _age(path, seconds=120.0):
    t = time.time() - seconds
    os.utime(path, (t, t))


def test_stalled_janitor_spares_live_holder(tmp_path):
    path = tmp_path / "commit.sentinel"
    a, b = _client(path), _client(path)
    path.write_bytes(b"dead")  # a crashed holder's sentinel, past the TTL
    _age(path)
    seen = a._stale_token()  # janitor A judges it stale, then stalls
    assert seen == b"dead"
    tok_b = b._acquire()  # B breaks the dead lock and takes it
    assert path.read_bytes() == tok_b
    assert not a._remove_if(seen, stale=True)  # A resumes: B's live sentinel stays
    assert path.read_bytes() == tok_b
    with pytest.raises(TimeoutError):
        a._acquire()  # and A cannot get in while B holds it
    assert b._remove_if(tok_b, stale=False)
    assert os.listdir(tmp_path) == []  # no private names left behind


def test_overrunning_holder_spares_successor(tmp_path):
    path = tmp_path / "commit.sentinel"
    a, b = _client(path), _client(path)
    tok_a = a._acquire()
    _age(path)  # A overruns stale_after ...
    tok_b = b._acquire()  # ... so B breaks A's lock and takes it
    assert path.read_bytes() == tok_b
    assert not a._remove_if(tok_a, stale=False)  # A's late release keeps B's sentinel
    assert path.read_bytes() == tok_b
    assert b._remove_if(tok_b, stale=False)
    assert os.listdir(tmp_path) == []


def test_janitors_race_one_break(tmp_path):
    path = tmp_path / "commit.sentinel"
    a, b = _client(path), _client(path)
    path.write_bytes(b"dead")
    _age(path)
    seen_a, seen_b = a._stale_token(), b._stale_token()
    assert a._remove_if(seen_a, stale=True)
    assert not b._remove_if(seen_b, stale=True)  # the dead sentinel is gone already
    assert os.listdir(tmp_path) == []


def test_publish_round_trip(tmp_path):
    path = tmp_path / "commit.sentinel"
    head = {"h": 0}
    cas = LockFileCAS(path, lambda: head["h"], timeout=0.05)
    assert cas.try_publish(0, lambda: head.update(h=1))
    assert not cas.try_publish(0, lambda: head.update(h=99))
    assert head["h"] == 1
    assert os.listdir(tmp_path) == []
