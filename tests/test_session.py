"""Session parallelism: stages sized by ``defaultParallelism`` run one
task per core. A floor above the core count splits the Python stages
into several waves, and every Python task has a fixed cost."""

import re

import pytest

from impractical_impala_spark.session import tuned_conf

from .conftest import spark_stage_tasks

# Settings from which Spark derives task counts when they are set.
_PARALLELISM_KEYS = (
    "spark.default.parallelism",
    "spark.sql.leafNodeDefaultParallelism",
    "spark.sql.files.minPartitionNum",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum",
)


@pytest.mark.parametrize("cores", [1, 2, 8, 32])
def test_tuned_conf_pins_no_parallelism_above_cores(cores):
    conf = tuned_conf(cores)
    for key in _PARALLELISM_KEYS:
        assert int(conf.get(key, cores)) <= cores, key


def test_python_stage_runs_one_task_per_core(spark, sf_small):
    from impractical_impala_spark.queries.stats_ops import o22_hp_detrend_centi

    sc = spark.sparkContext
    cores = int(re.fullmatch(r"local\[(\d+)\]", sc.master).group(1))
    assert sc.defaultParallelism == cores

    df = o22_hp_detrend_centi(spark, sf_small)
    tasks = spark_stage_tasks(
        spark, lambda: df.write.format("noop").mode("overwrite").save())
    # The scan and the coalesced sort are narrower; the stages that run
    # the kernel read the explicit repartition, one task per core.
    assert max(tasks) == cores, tasks
