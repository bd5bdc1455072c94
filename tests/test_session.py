from batch_processing_on_aws_spark.session import session_conf


def test_console_progress_off_by_default(spark):
    assert session_conf(4)["spark.ui.showConsoleProgress"] == "false"
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_extra_conf_overrides_defaults():
    conf = session_conf(4, extra_conf={"spark.ui.showConsoleProgress": "true"})
    assert conf["spark.ui.showConsoleProgress"] == "true"
    assert conf["spark.sql.shuffle.partitions"] == "4"
