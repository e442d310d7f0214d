"""``SPARK_GRAFT_UI`` normalization: common truthy spellings enable the
Spark UI, anything else disables it — never a session-build error."""

from plumberapp_spark.session import _ui_enabled


def test_ui_env_value_normalizes_to_spark_boolean():
    for on in ("1", "true", "TRUE", "True", "yes", "YES", " on "):
        assert _ui_enabled(on) == "true", on
    for off in (None, "", "0", "false", "no", "off", "enabled", "2"):
        assert _ui_enabled(off) == "false", off
