"""Executor package shipping (`session.package_zip`). No Spark runs."""

import importlib.util
import os
import shutil
import zipfile

import datamart_spark.session as session


def _load_session(pkg_dir, name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(pkg_dir, "session.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_package_zip_ships_the_calling_tree(tmp_path):
    """Two checkouts zipping into one directory each ship their own
    tree, even when the second tree's files are all older than the
    first tree's zip; a module deleted from a tree leaves its zip."""
    src = os.path.dirname(os.path.abspath(session.__file__))
    trees = []
    for name in ("a", "b"):
        dst = tmp_path / name / "datamart_spark"
        shutil.copytree(src, dst, ignore=shutil.ignore_patterns("__pycache__"))
        trees.append(dst)
    extra = trees[1] / "only_in_b.py"
    extra.write_text("X = 1\n")
    os.utime(extra, (1_000_000_000, 1_000_000_000))
    zips = tmp_path / "zips"
    zips.mkdir()

    zip_a = _load_session(trees[0], "session_a").package_zip(dest_dir=str(zips))
    session_b = _load_session(trees[1], "session_b")
    zip_b = session_b.package_zip(dest_dir=str(zips))

    with zipfile.ZipFile(zip_b) as z:
        assert "datamart_spark/only_in_b.py" in z.namelist()
    with zipfile.ZipFile(zip_a) as z:
        assert "datamart_spark/only_in_b.py" not in z.namelist()

    extra.unlink()
    with zipfile.ZipFile(session_b.package_zip(dest_dir=str(zips))) as z:
        assert "datamart_spark/only_in_b.py" not in z.namelist()
