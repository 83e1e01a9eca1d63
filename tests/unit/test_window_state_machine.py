"""The event-time window state machine (streaming/state.py
``_window_stream``) driven without a stream: the per-group function a
twin hands to ``_apply_state`` runs against a stand-in GroupState, so
one test walks update -> update -> timeout in milliseconds."""

from __future__ import annotations

import pandas as pd

from logprep_spark.streaming import state as st


class _State:
    """The slice of pyspark's GroupState the state machine touches."""

    def __init__(self):
        self.value = None
        self.timeout_ms = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _wiring(monkeypatch, build):
    """Build a twin on an empty frame; return what it hands to
    ``_apply_state`` as {keys, fn, out, state, timeout}."""
    seen = {}

    def capture(df, keys, fn, out_schema, state_schema, timeout="NoTimeout"):
        seen.update(keys=keys, fn=fn, out=out_schema, state=state_schema, timeout=timeout)
        return df

    monkeypatch.setattr(st, "_apply_state", capture)
    build()
    return seen


def _events(spark):
    return spark.createDataFrame(
        [], "ts timestamp, grp string, slice string, value string"
    )


WIN = pd.Timestamp("2026-03-01 10:00:00")
WIN_END_MS = int(WIN.value // 1_000_000) + 86_400_000


def test_period_twin_updates_then_emits_final_and_drops_state(spark, monkeypatch):
    w = _wiring(monkeypatch, lambda: st.holt_window_stream(_events(spark)))
    assert w["keys"] == ["grp", "win_start"]
    assert w["state"] == "periods array<long>, counts array<long>, win_end_ms long"
    assert w["timeout"] == "EventTimeTimeout"
    state, key = _State(), ("g", WIN)
    h = 3_600_000

    def run(*periods):
        batch = [pd.DataFrame({"_p": list(periods)})]
        (out,) = list(w["fn"](key, iter(batch), state))
        return out

    first = run(2 * h, 0, 0)
    assert state.get == ([0, 2 * h], [2, 1], WIN_END_MS)
    assert state.timeout_ms == WIN_END_MS
    assert list(first.columns) == [
        "grp", "win_start", "n_periods", "level_milli", "trend_milli",
        "forecast_milli", "max_resid_milli", "is_final",
    ]
    assert first.n_periods[0] == 2 and not first.is_final[0]

    running = run(h)
    assert state.get[:2] == ([0, h, 2 * h], [2, 1, 1])
    fit = st._holt_fold([2, 1, 1], 300, 100)
    assert running.level_milli[0] == fit["level_milli"]

    state.hasTimedOut = True
    final = run()
    assert final.is_final[0] and not state.exists
    assert final.drop(columns="is_final").equals(running.drop(columns="is_final"))


def test_theta_twin_skips_null_values_but_keeps_their_group(spark, monkeypatch):
    """The theta twin hashes JVM-side; a null value arrives as -1 and
    opens its group without adding a hash, so an all-null group still
    reports an empty sketch."""
    w = _wiring(monkeypatch, lambda: st.theta_window_stream(_events(spark), k=2))
    state = _State()
    batch = [pd.DataFrame({"_h": [-1, -1]})]
    (out,) = list(w["fn"](("s", WIN), iter(batch), state))
    assert out.n_kept[0] == 0 and out.est_distinct[0] == 0.0
    assert state.get[0] == []

    batch = [pd.DataFrame({"_h": [9, 5, -1, 7, 5]})]
    (out,) = list(w["fn"](("s", WIN), iter(batch), state))
    assert state.get[0] == [5, 7]
    assert out.theta[0] == 7 and out["sample"][0] == [5]
