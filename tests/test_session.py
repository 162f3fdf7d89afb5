"""Session defaults that a long-lived session depends on."""

from __future__ import annotations

from finporter_spark.queries import staging
from finporter_spark.queries.catalog import catalog_queries
from tools.measure import compile_count

# one pass of perfbench's catalog mix compiles 121 generated classes,
# more than Spark's default 100-entry codegen class cache holds
MIX = (
    "x22_stream_cdc_upsert",
    "l30_chain_components",
    "q1_pricing_summary",
    "q3_shipping_priority",
)


def test_a_repeated_pass_over_the_mix_compiles_no_class(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The first pass compiles every class the mix generates; the
    second finds them all in the codegen class cache. At the default
    cache size the second pass recompiled ~90-110 evicted classes."""
    monkeypatch.setattr(staging, "IO_ROOT", str(tmp_path))
    qs = catalog_queries()

    def run_pass() -> dict[str, int]:
        compiles = {}
        for name in MIX:
            before = compile_count(spark)
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            compiles[name] = compile_count(spark) - before
        return compiles

    first = run_pass()
    assert sum(first.values()) > 0
    assert run_pass() == dict.fromkeys(MIX, 0)
