"""session.tune: the runtime confs every registered query applies."""

from __future__ import annotations

RULES = "spark.sql.optimizer.excludedRules"
INFER = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def test_tune_merges_excluded_rules(spark):
    """tune() appends its rule to the ones the caller excluded, keeps
    their order, and adds no duplicate however often it runs."""
    from projetbigdata_spark.session import tune

    user = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    saved = spark.conf.get(RULES, "")
    try:
        spark.conf.set(RULES, user)
        tune(spark)
        assert spark.conf.get(RULES) == f"{user},{INFER}"
        tune(spark)
        tune(spark)
        assert spark.conf.get(RULES) == f"{user},{INFER}"
        spark.conf.set(RULES, f"{INFER}, {user}")
        tune(spark)
        assert spark.conf.get(RULES) == f"{INFER},{user}"
    finally:
        if saved:
            spark.conf.set(RULES, saved)
        else:
            spark.conf.unset(RULES)
        tune(spark)
