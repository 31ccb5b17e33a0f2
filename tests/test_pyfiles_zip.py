"""The ``spark-submit --py-files dist/olkg.zip`` run mode.

A stale zip silently ships old code to every executor, so the freshness
guard hashes every ``olkg/*.py`` module against the corresponding zip
member: any drift — a modified module, a new module missing from the zip,
or a deleted module lingering in it — fails the suite.  Fix:
``sh scripts/make_pyfiles.sh``.  The run-mode tests submit the pipeline
with that zip and check that the launcher's settings reach the session.
"""

import hashlib
import json
import os
import pathlib
import subprocess
import sys
import zipfile

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


@pytest.fixture(scope="session")
def built_zip() -> pathlib.Path:
    """dist/ is a gitignored build artifact — on a fresh checkout it does
    not exist yet, so build it here (the same script a deployer runs)
    instead of failing the suite; the strict drift check below then guards
    a STALE zip, which is the actual hazard."""
    zip_path = REPO / "dist" / "olkg.zip"
    if not zip_path.exists():
        subprocess.run(["sh", str(REPO / "scripts" / "make_pyfiles.sh")],
                       check=True, cwd=REPO, capture_output=True)
    return zip_path


def test_pyfiles_zip_matches_source_tree(built_zip):
    zip_path = built_zip
    assert zip_path.exists(), "dist/olkg.zip missing — run scripts/make_pyfiles.sh"

    src = {str(p.relative_to(REPO)): _md5(p.read_bytes())
           for p in sorted((REPO / "olkg").glob("*.py"))}
    with zipfile.ZipFile(zip_path) as z:
        members = {n: _md5(z.read(n)) for n in z.namelist()
                   if n.endswith(".py")}

    missing = sorted(set(src) - set(members))
    extra = sorted(set(members) - set(src))
    stale = sorted(n for n in set(src) & set(members)
                   if src[n] != members[n])
    assert not (missing or extra or stale), (
        f"dist/olkg.zip drifted from olkg/ — missing={missing} "
        f"extra={extra} stale={stale}; run scripts/make_pyfiles.sh")


def _env_without_launcher(tmp_path) -> dict:
    """This process's environment minus every launcher setting: no
    PYSPARK_SUBMIT_ARGS, no PYTHONPATH (the zip must supply olkg), and a
    Spark conf dir with no spark-defaults.conf."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "PYTHONPATH")}
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    env["SPARK_CONF_DIR"] = str(conf_dir)
    return env


def _event_log_properties(log_dir: pathlib.Path) -> dict:
    """The Spark properties a finished, uncompressed event log records."""
    for path in sorted(log_dir.rglob("events_*")):
        with open(path, encoding="utf-8") as f:
            for raw in f:
                ev = json.loads(raw)
                if ev.get("Event") == "SparkListenerEnvironmentUpdate":
                    return dict(ev["Spark Properties"])
    raise AssertionError(f"no environment update in {log_dir}")


def test_spark_submit_runs_pipeline_with_launcher_confs(built_zip, tmp_path):
    """The cluster run mode: spark-submit runs olkg/pipeline.py with the
    package from the --py-files zip, and the session keeps the launcher's
    master and confs instead of the engine's defaults."""
    import pyarrow.parquet as pq
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    events, out = tmp_path / "events", tmp_path / "out"
    events.mkdir()
    cmd = [submit, "--master", "local[2]",
           "--conf", "spark.sql.shuffle.partitions=3",
           "--conf", "spark.sql.files.maxPartitionBytes=64m",
           "--conf", "spark.eventLog.enabled=true",
           "--conf", f"spark.eventLog.dir=file://{events}",
           "--conf", "spark.eventLog.compress=false",
           "--py-files", str(built_zip), "olkg/pipeline.py",
           "--pages", "data/pages.parquet", "--out", str(out),
           "--lcsh-parquet", "data/lcsh.parquet"]
    proc = subprocess.run(cmd, cwd=REPO, env=_env_without_launcher(tmp_path),
                          capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]

    cols = ["subj", "pred", "obj", "obj_kind", "obj_datatype"]
    got = pq.read_table(out / "edges", columns=cols).to_pylist()
    want = pq.read_table(REPO / "data" / "golden_edges.parquet",
                         columns=cols).to_pylist()
    got_set = {tuple(r[c] for c in cols) for r in got}
    assert len(got) == len(got_set)
    assert got_set == {tuple(r[c] for c in cols) for r in want}

    props = _event_log_properties(events)
    assert props["spark.master"] == "local[2]"
    assert props["spark.sql.shuffle.partitions"] == "3"
    assert props["spark.sql.files.maxPartitionBytes"] == "64m"


def test_build_session_defaults_without_launcher(tmp_path):
    """With no launcher settings, build_session() starts the session with
    the engine's defaults."""
    keys = ["spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.parquet.compression.codec"]
    code = ("import json; from olkg.session import build_session; "
            "s = build_session(); "
            "print(json.dumps([s.sparkContext.master] + "
            f"[s.conf.get(k) for k in {keys!r}])); "
            "s.stop()")
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          env=_env_without_launcher(tmp_path),
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == ["local[*]", "32", "16m", "2m", "snappy"]
