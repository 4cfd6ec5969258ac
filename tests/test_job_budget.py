"""Job budget of the Hi-C CLI path.  A job costs a roughly fixed amount
of driver and JVM time, so on small and medium inputs the job count
sets the run time; unlike the time, it does not depend on host load."""

from __future__ import annotations

from test_session import _write_hic_inputs

#: Spark jobs one ``api.run_pipeline_files`` run (passes=2) takes: the
#: census 3, the refinement pass's candidate collect 1, the parquet
#: write (the final BH runs in it) 4, the ordered TSV 1, and 8 to read
#: and join the inputs and aggregate pass 0's per-distance table
PIPELINE_JOBS = 17


def test_pipeline_job_budget(spark, tmp_path):
    from pfithic_spark.api import run_pipeline_files
    from pfithic_spark.hic import SigConfig

    paths = _write_hic_inputs(tmp_path)
    cfg = SigConfig(resolution=5000, n_bins=30, passes=2)
    sc = spark.sparkContext
    group = "test-pipeline-job-budget"
    sc.setJobGroup(group, "run_pipeline_files job budget")
    try:
        sig = run_pipeline_files(
            spark,
            paths["contacts"],
            paths["fragments"],
            paths["biases"],
            str(tmp_path / "out"),
            cfg,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert sig.count() > 0
    sig.unpersist()
    assert jobs == PIPELINE_JOBS, jobs
