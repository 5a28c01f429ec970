"""The Python worker daemon (adhesive_spark/pyworker.py): the skip rule in
plain Python, then the daemon in the shared session."""

import importlib
import sys
import uuid
import zipfile
import zipimport

from adhesive_spark.pyworker import freeze_archives


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_launch_archives_skip_reread_later_zips_do_not(tmp_path, monkeypatch):
    # restores the stock method (and sys.path) when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "path", list(sys.path))
    tag = uuid.uuid4().hex[:8]
    early, late, fresh = (f"pw_{k}_{tag}" for k in ("early", "late", "fresh"))
    launch_zip, late_zip = str(tmp_path / "launch.zip"), str(tmp_path / "late.zip")
    _write_zip(launch_zip, {early: "V = 1\n"})
    sys.path.append(launch_zip)
    assert importlib.import_module(early).V == 1
    assert freeze_archives(sys.path) >= {launch_zip}

    launch_imp = sys.path_importer_cache[launch_zip]
    launch_files = launch_imp._files
    _write_zip(late_zip, {late: "V = 1\n"})
    sys.path.append(late_zip)
    try:
        assert importlib.import_module(late).V == 1
        late_imp = sys.path_importer_cache[late_zip]
        late_files = late_imp._files

        # replace the late zip's contents, as a re-shipped addPyFile would
        _write_zip(late_zip, {late: "V = 2\n", fresh: "V = 3\n"})
        importlib.invalidate_caches()

        assert launch_imp._files is launch_files  # not re-read
        assert late_imp._files is not late_files  # re-read
        del sys.modules[late]
        assert importlib.import_module(late).V == 2
        assert importlib.import_module(fresh).V == 3
    finally:
        for name in (early, late, fresh):
            sys.modules.pop(name, None)
        for p in (launch_zip, late_zip):
            sys.path_importer_cache.pop(p, None)
            zipimport._zip_directory_cache.pop(p, None)


def test_python_body_imports_module_from_add_py_file(sess, tmp_path):
    """A zip shipped with addPyFile is importable from a LANGUAGE PYTHON
    body: tasks put it on sys.path after the daemon launched, so the
    per-task invalidation still reaches it."""
    name = f"pw_shipped_{uuid.uuid4().hex[:8]}"
    shipped = tmp_path / f"{name}.zip"
    _write_zip(shipped, {name: "OFFSET = 1000\n"})
    sess.spark.sparkContext.addPyFile(str(shipped))
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_shipped(BIGINT) RETURNS BIGINT "
        f"LANGUAGE PYTHON AS 'import {name}\nreturn {name}.OFFSET + arg0'"
    )
    rows = sess.sql(
        "SELECT pw_shipped(id) AS v FROM range(0, 4, 1, 2) ORDER BY v"
    ).collect()
    assert [r.v for r in rows] == [1000, 1001, 1002, 1003]


def test_workers_run_under_repo_daemon(sess):
    """A silent return to Spark's stock daemon fails here."""
    sess.sql(
        "CREATE OR REPLACE FUNCTION pw_daemon(BIGINT) RETURNS STRING "
        "LANGUAGE PYTHON AS 'import sys\n"
        "return sys.modules[\"__main__\"].__spec__.name'"
    )
    rows = sess.sql("SELECT pw_daemon(id) AS m FROM range(0, 8, 1, 4)").collect()
    assert {r.m for r in rows} == {"adhesive_spark.pyworker"}
