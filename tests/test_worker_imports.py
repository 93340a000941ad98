"""The zip-finder hook that ``import xqspark`` installs (xqspark/_imports.py).

PySpark workers call ``importlib.invalidate_caches()`` at every task
start; the hook makes that call drop zip finders instead of re-reading
their archives. No Spark here: the cases build their own zips and
directories on ``sys.path``.
"""

import importlib
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

import xqspark  # noqa: F401  (installs the hook)


def _zip_finders() -> list:
    return [
        e for e, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def _write_zip(path, modules: dict) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    return str(path)


@pytest.fixture
def isolated_path(monkeypatch, tmp_path):
    """A private sys.path and module set for one case; the names the case
    imports are unique to it and removed again afterwards."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    before = set(sys.modules)
    yield tmp_path
    for name in set(sys.modules) - before:
        if name.startswith("xqz_"):
            del sys.modules[name]


def test_invalidate_caches_drops_zip_finders(isolated_path):
    archive = _write_zip(isolated_path / "a.zip", {"xqz_a1": "X = 1\n"})
    sys.path.insert(0, archive)
    import xqz_a1

    assert xqz_a1.X == 1
    assert archive in _zip_finders()
    importlib.invalidate_caches()
    assert _zip_finders() == []


def test_unimported_module_from_same_zip_still_imports(isolated_path):
    archive = _write_zip(
        isolated_path / "b.zip", {"xqz_b1": "X = 1\n", "xqz_b2": "X = 2\n"}
    )
    sys.path.insert(0, archive)
    import xqz_b1

    importlib.invalidate_caches()
    import xqz_b2

    assert (xqz_b1.X, xqz_b2.X) == (1, 2)


def test_file_finders_still_refresh(isolated_path):
    pkg_dir = isolated_path / "dir"
    pkg_dir.mkdir()
    (pkg_dir / "xqz_c1.py").write_text("X = 1\n")
    sys.path.insert(0, str(pkg_dir))
    import xqz_c1

    finder = sys.path_importer_cache[str(pkg_dir)]
    (pkg_dir / "xqz_c2.py").write_text("X = 2\n")
    importlib.invalidate_caches()
    import xqz_c2

    assert (xqz_c1.X, xqz_c2.X) == (1, 2)
    assert sys.path_importer_cache[str(pkg_dir)] is finder


def test_zip_appended_later_imports(isolated_path):
    first = _write_zip(isolated_path / "d1.zip", {"xqz_d1": "X = 1\n"})
    sys.path.append(first)
    import xqz_d1

    importlib.invalidate_caches()
    later = _write_zip(isolated_path / "d2.zip", {"xqz_d2": "X = 2\n"})
    sys.path.append(later)
    importlib.invalidate_caches()
    import xqz_d2

    assert (xqz_d1.X, xqz_d2.X) == (1, 2)


def test_package_imported_twice_installs_one_hook():
    code = (
        "import sys\n"
        "import xqspark\n"
        "for name in [m for m in sys.modules if m.startswith('xqspark')]:\n"
        "    del sys.modules[name]\n"
        "import xqspark\n"
        "print(sum(type(f).__module__ == 'xqspark._imports' for f in sys.meta_path))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=pathlib.Path(__file__).parents[1],
    )
    assert out.stdout.strip() == "1"
