"""The C kernel must build wherever gcc is present.

tests/test_fastpath.py and tests/test_arena_build.py skip when the
native module is unavailable, so a compile error in ``_fastpath.c``
would otherwise skip every C differential test and leave only the
pure-Python fallback under test. Hosts without gcc still skip."""

import shutil

import pytest

from swiftsoup_spark.kernel import fastpath as fp


def test_native_module_builds_where_gcc_exists():
    if shutil.which("gcc") is None:
        pytest.skip("no gcc on PATH: the pure-Python fallback is expected")
    assert fp.get_module() is not None, (
        f"_fastpath.c did not build or load:\n{fp.build_error}")


def test_compile_failure_keeps_gcc_stderr(tmp_path, monkeypatch):
    if shutil.which("gcc") is None:
        pytest.skip("no gcc on PATH")
    monkeypatch.setattr(fp, "build_error", None)
    src = tmp_path / "broken.c"
    src.write_text("int f(void) { return undeclared_name; }\n")
    assert not fp._compile(str(src), str(tmp_path / "broken.so"))
    assert "undeclared_name" in fp.build_error
