"""The per-application driver memo (session.AppMemo) behind the
compiled-filter, dispatch-expression, fan_out-probe and table caches."""

from types import SimpleNamespace

from logprep_spark.session import AppMemo


def _app(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_entry_is_scoped_to_its_application():
    memo = AppMemo(8)
    memo.put(memo.key(_app("app-1"), "filter", "schema"), "col-1")
    assert memo.get(memo.key(_app("app-1"), "filter", "schema")) == "col-1"
    assert memo.get(memo.key(_app("app-2"), "filter", "schema")) is None


def test_memo_never_grows_past_its_bound():
    memo = AppMemo(4)
    for i in range(25):
        memo.put(memo.key(_app("app-1"), i), i)
        assert len(memo) <= 4
    # the latest entry survives the overflow clear
    assert memo.get(memo.key(_app("app-1"), 24)) == 24


def test_unreachable_application_is_never_memoized():
    memo = AppMemo(4)
    key = memo.key(SimpleNamespace(), "x")
    assert key is None
    memo.put(key, "v")
    assert len(memo) == 0 and memo.get(key) is None


def test_live_session_keys_on_its_application_id(spark):
    memo = AppMemo(4)
    key = memo.key(spark, "x")
    assert key == (spark.sparkContext.applicationId, "x")
    assert memo.key(None, "x") == key
