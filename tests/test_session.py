"""Session set-up that must hold for a JVM started before ``get_spark``."""


def test_get_spark_pins_locale_of_a_running_jvm(spark, capfd):
    """The en-US pin is a JVM start option, so a JVM that already runs
    under another default keeps it; ``get_spark`` resets it, which keeps
    the JVM's upper()/lower() equal to Python's for dotted and dotless
    i."""
    from olap_xtrctr_spark import get_spark
    locale = spark._jvm.java.util.Locale
    before = locale.getDefault()
    try:
        locale.setDefault(locale.forLanguageTag("tr-TR"))
        assert locale.getDefault().toString() == "tr_TR"
        capfd.readouterr()
        assert get_spark("pytest") is spark
        assert locale.getDefault().toString() == "en_US"
        assert "tr_TR" in capfd.readouterr().err
        assert spark.sql("SELECT upper('ıi')").first()[0] == "ıi".upper()
    finally:
        locale.setDefault(before)
