"""The driver JVM's class-data sharing archive (olkg.session).

Every case runs in subprocesses with its own ``XDG_CACHE_HOME`` under the
test's temporary directory, so the archive these tests build, map, corrupt
and race never touches the developer's cache.  Whether a JVM mapped the
archive shows on stderr: ``-Xlog:class+load`` names the classes loaded from
it as ``shared objects file (top)``.
"""

import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

REPO = pathlib.Path(__file__).resolve().parent.parent
MAPPED = "shared objects file (top)"
CLASS_LOAD = "--conf spark.driver.extraJavaOptions=-Xlog:class+load=info:stderr"
# a tiny session; stdout carries one JSON line
SESSION = ("import json; from olkg.session import build_session; "
           "s = build_session(master='local[1]'); "
           "print(json.dumps({'n': s.range(3).count(), "
           "'partitions': s.conf.get('spark.sql.shuffle.partitions'), "
           "'java_opts': s.conf.get('spark.driver.defaultJavaOptions', "
           "None)})); s.stop()")


def _env(cache, submit_args: str = "", conf_dir=None) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=str(REPO),
               PYSPARK_SUBMIT_ARGS=f"{submit_args} pyspark-shell".strip())
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    return env


def _run(args, env) -> subprocess.CompletedProcess:
    proc = subprocess.run([sys.executable, *args], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _cache_files(cache, suffix: str) -> list:
    d = pathlib.Path(cache) / "olkg"
    return sorted(p.name for p in d.iterdir() if p.name.endswith(suffix)) \
        if d.exists() else []


def _pipeline(out, env) -> tuple:
    proc = _run(["-m", "olkg.pipeline", "--pages", "data/pages.parquet",
                 "--out", str(out), "--lcsh-parquet", "data/lcsh.parquet",
                 "--master", "local[2]", "--shuffle-partitions", "4"], env)
    metrics = _last_json(proc.stdout)
    edges = {tuple(r.values()) for r in pq.read_table(
        out / "edges", columns=["subj", "pred", "obj", "obj_kind",
                                "obj_datatype"]).to_pylist()}
    cmap = {tuple(r.values()) for r in pq.read_table(
        out / "canonical_map", columns=["entity", "canonical_id"]).to_pylist()}
    return proc, metrics, edges, cmap


def test_archive_dumped_once_then_mapped_and_a_mismatch_falls_back(tmp_path):
    """The first pipeline run writes and installs exactly one archive, the
    second maps it, and a run whose class path no longer matches falls back
    without it: the archive copied into another cache, whose empty conf
    directory, first on the class path, has another path.  All three write
    the same edges and canonical map, and stdout's last line is the metrics
    JSON every time (the JVM's archive warnings go to stderr)."""
    cache, moved = tmp_path / "cache", tmp_path / "moved"
    runs = []
    for i, where in enumerate((cache, cache, moved)):
        if where == moved:
            [name] = _cache_files(cache, ".jsa")
            (moved / "olkg").mkdir(parents=True)
            shutil.copy(cache / "olkg" / name, moved / "olkg" / name)
        runs.append(_pipeline(tmp_path / f"out{i}", _env(where, CLASS_LOAD)))
        if i == 0:
            assert len(_cache_files(cache, ".jsa")) == 1
            assert _cache_files(cache, ".part") == []
    (dump, m0, e0, c0), (mapped, m1, e1, c1), (mismatch, m2, e2, c2) = runs
    assert MAPPED not in dump.stderr
    assert MAPPED in mapped.stderr
    assert MAPPED not in mismatch.stderr
    assert "Unable to use shared archive" in mismatch.stderr
    for proc in (dump, mapped, mismatch):
        assert "[cds" not in proc.stdout and "[warning]" not in proc.stdout
    assert e0 == e1 == e2 and c0 == c1 == c2 and e0
    assert m0["triples"] == m1["triples"] == m2["triples"] == len(e0)
    assert len(_cache_files(cache, ".jsa")) == 1


def test_corrupt_archive_falls_back(tmp_path):
    """An archive that is not one (bad header) is ignored: the session
    starts without it and stdout carries only the program's output."""
    cache = tmp_path / "cache"
    _run(["-c", SESSION], _env(cache))
    [name] = _cache_files(cache, ".jsa")
    archive = cache / "olkg" / name
    archive.chmod(0o644)
    archive.write_bytes(os.urandom(1 << 20))
    proc = _run(["-c", SESSION], _env(cache, CLASS_LOAD))
    out = _last_json(proc.stdout)
    assert MAPPED not in proc.stderr
    assert len(proc.stdout.strip().splitlines()) == 1 and out["n"] == 3
    assert "SharedArchiveFile" in out["java_opts"]


def test_real_conf_file_means_no_archive(tmp_path):
    """A Spark conf directory holding a real file stays on the class path
    untouched: no archive flag is set, nothing is cached, and the file's
    settings reach the session."""
    cache, conf = tmp_path / "cache", tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.sql.shuffle.partitions 7\n")
    proc = _run(["-c", SESSION], _env(cache, conf_dir=conf))
    assert _last_json(proc.stdout) == {"n": 3, "partitions": "7",
                                       "java_opts": None}
    assert _cache_files(cache, ".jsa") == _cache_files(cache, ".part") == []


def test_launcher_java_options_mean_no_archive(tmp_path):
    """Java options the launcher sets win: the archive flags stay out."""
    cache = tmp_path / "cache"
    proc = _run(["-c", SESSION], _env(
        cache, "--conf spark.driver.defaultJavaOptions=-Dolkg.test=1"))
    assert _last_json(proc.stdout)["java_opts"] == "-Dolkg.test=1"
    assert _cache_files(cache, ".jsa") == []


def test_launcher_class_path_means_no_dump(tmp_path):
    """A driver class path the launcher sets, here a directory of classes
    (which the dump refuses), means no archive: two runs both succeed, no
    archive or partial dump is left, and neither run tries a dump."""
    cache, classes = tmp_path / "cache", tmp_path / "classes"
    (classes / "pkg").mkdir(parents=True)
    (classes / "pkg" / "A.class").write_bytes(b"\xca\xfe\xba\xbe")
    for args in (f"--conf spark.driver.extraClassPath={classes}",
                 f"--driver-class-path {classes}"):
        proc = _run(["-c", SESSION], _env(cache, args))
        out = _last_json(proc.stdout)
        assert out["n"] == 3 and out["java_opts"] is None
        assert "[cds" not in proc.stderr and "non-empty" not in proc.stderr
    assert _cache_files(cache, ".jsa") == _cache_files(cache, ".part") == []


def test_concurrent_first_runs_install_one_whole_archive(tmp_path):
    """Two first runs at once both succeed and leave one archive, which a
    third run maps.  While they run, no archive file is ever seen growing:
    a dump is installed only once its JVM has exited."""
    cache = tmp_path / "cache"
    procs = [subprocess.Popen([sys.executable, "-c", SESSION], cwd=REPO,
                              env=_env(cache), stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
             for _ in range(2)]
    sizes: dict = {}

    def observe():
        for f in (cache / "olkg").glob("*.jsa"):
            try:
                st = f.stat()
            except FileNotFoundError:
                continue
            sizes.setdefault(st.st_ino, set()).add(st.st_size)

    deadline = time.monotonic() + 600
    while any(p.poll() is None for p in procs) and time.monotonic() < deadline:
        observe()
        time.sleep(0.05)
    observe()
    for p in procs:
        assert p.wait(timeout=60) == 0
        assert _last_json(p.stdout.read())["n"] == 3
    assert sizes and all(len(s) == 1 for s in sizes.values())
    assert len(_cache_files(cache, ".jsa")) == 1
    assert _cache_files(cache, ".part") == []
    assert MAPPED in _run(["-c", SESSION], _env(cache, CLASS_LOAD)).stderr
