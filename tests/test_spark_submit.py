"""The spark-submit --py-files deployment path (north-rule shape).

Proves the package runs as a shipped artifact: the job process's cwd is
a temp dir, so ``import crawl4ai_spark`` inside scripts/extract_job.py
can only resolve via the --py-files zip that submit_scaling.py builds.
"""

import os

import pytest

import submit_scaling

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)
def test_spark_submit_pyfiles_job_runs_and_logs_partitions(tmp_path):
    zpath = submit_scaling.build_pyfiles_zip(str(tmp_path))
    # the zip carries the package sources (and nothing else)
    import zipfile

    names = zipfile.ZipFile(zpath).namelist()
    assert "crawl4ai_spark/__init__.py" in names
    assert all(n.startswith("crawl4ai_spark/") for n in names)

    res = submit_scaling.run_point(
        cpus=2, zpath=zpath, sf_dir=SF_DIR, replicate=2, workdir=str(tmp_path)
    )
    assert res["cpus"] == 2
    assert res["n_urls"] == 1000  # sf0.001: 500 pages x 2 replicas
    assert res["urls_per_sec"] > 0
    # per-partition throughput metrics were collected and summarized
    assert res["n_partitions"] >= 2
    assert res["partition_urls_min"] > 0
    assert sum(p["n_urls"] for p in res["partitions"]) == res["n_urls"]
    assert all(p["wall_sec"] >= 0 for p in res["partitions"])
    # the package arrives at task time, yet every worker that imports it
    # gets the zip re-read guard, which then covers crawl4ai_spark.zip too
    assert res["zip_guard"] is True
