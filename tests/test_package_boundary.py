"""The shipped package boundary: what ``session.ship_package`` zips to
every Python worker holds the product only.

Verification harnesses live outside ``sneller_spark/`` — the corpus
replay in ``tools/replay/``, the regex parse reference in
``tests/parse_reference.py`` — and the public dialect surface
(``sneller_spark.partiql``) must work from the zip alone.  The import
smoke test below keeps the harness importable even where its corpus
tests skip because the reference checkout is absent.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import subprocess
import sys
import zipfile

import pytest

from sneller_spark.session import write_package_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(REPO, "tools", "replay", "*.py"))
    if not p.endswith("__init__.py")
)
REFERENCE_KERNELS = {
    "parse_stage", "parse_batch", "decode_texts_np", "tokens_series_to_arrow",
    "decode_tokens_arrow", "extract_fields_arrow",
}


@pytest.fixture(scope="module")
def package_zip(tmp_path_factory) -> str:
    return write_package_zip(str(tmp_path_factory.mktemp("zip") / "sneller_spark.zip"))


def test_package_zip_holds_no_harness(package_zip):
    with zipfile.ZipFile(package_zip) as zf:
        names = zf.namelist()
        sources = {n: zf.read(n).decode() for n in names}
    assert "sneller_spark/partiql.py" in names
    assert "sneller_spark/pipeline/parse.py" in names
    shipped = {os.path.splitext(os.path.basename(n))[0] for n in names}
    assert len(HARNESS) >= 12
    assert not shipped & set(HARNESS), sorted(shipped & set(HARNESS))
    for name, src in sources.items():
        tree = ast.parse(src, name)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                mods = [node.module or ""]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                mods = []
            for m in mods:
                assert m.split(".")[0] not in ("tools", "tests"), (name, m)
            if isinstance(node, ast.FunctionDef):
                assert node.name not in REFERENCE_KERNELS, (name, node.name)


def test_partiql_translate_from_zip_alone(package_zip, tmp_path):
    """A scratch cwd, no PYTHONPATH, and only the zip on sys.path."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import sneller_spark\n"
        "assert sneller_spark.__file__.startswith(sys.argv[1]), sneller_spark.__file__\n"
        "from sneller_spark import partiql\n"
        "print(partiql.translate(sys.argv[2]))\n"
    )
    query = (
        'SELECT "name", COUNT(*) FROM docs '
        "WHERE EQUALS_FUZZY(\"name\", 'spark', 1) GROUP BY \"name\""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code, package_zip, query],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == (
        "SELECT `name`, COUNT(*)  AS count FROM docs "
        "WHERE sn_equals_fuzzy(`name`, 'spark', 1) GROUP BY `name`"
    )


@pytest.mark.parametrize("module", HARNESS)
def test_replay_harness_imports(module):
    importlib.import_module(f"tools.replay.{module}")
