"""The north-rule launch mode, literally: `spark-submit --py-files`.

Packages alix_spark into a zip, launches the CLI build through
spark-submit in a separate JVM (the cluster submission path — nothing
imported from the test process), then opens the built index with
IndexReader and serves ranked/boolean/phrase queries from it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_build_and_query(spark, tmp_path):
    zip_path = tmp_path / "alix_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _, files in os.walk(os.path.join(REPO, "alix_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    out = tmp_path / "idx"
    env = dict(os.environ, SPARK_MASTER_SET="1")
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.driver.memory=4g",
            "--py-files", str(zip_path),
            os.path.join(REPO, "alix_spark", "build_index.py"),
            "--synth", "300",
            "--out", str(out),
            "--seg-size", "64",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # nothing importable from cwd: --py-files must carry the package
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "INDEX BUILT: 300 docs" in proc.stdout

    # the launcher's --conf holds: get_spark's defaults do not replace it
    meta = json.loads(next((out / "_meta").glob("*.json")).read_text())
    assert meta["shuffle_partitions"] == 4
    assert meta["cores"] == 2

    from alix_spark.index.reader import IndexReader

    r = IndexReader(spark, str(out))
    assert r.n_docs == 300
    top = [
        x["term"]
        for x in r.forms.orderBy("term").limit(200).collect()
        if x["term"].startswith("tok")
    ][:2]
    assert len(top) == 2
    hits = r.search(" ".join(top), k=5).collect()
    assert len(hits) == 5 and all(h["score"] > 0 for h in hits)
    assert r.boolean_docs(f"+{top[0]}").count() > 0
    assert r.phrase([top[0]]).count() > 0
