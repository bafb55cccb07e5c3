"""The spark-submit ``--py-files`` zip is built on demand from the tree.

``dist/`` is not tracked: ``scripts/make_pyfiles_zip.sh`` builds
``dist/extractor_spark.zip`` before a submit.  This gate runs the script
and checks that the zip holds exactly the tree's ``extractor_spark/**/*.py``,
byte for byte.
"""

import pathlib
import subprocess
import zipfile

REPO = pathlib.Path(__file__).resolve().parent.parent
ZIP = REPO / "dist" / "extractor_spark.zip"


def test_pyfiles_zip_matches_source_tree():
    subprocess.run(
        ["sh", str(REPO / "scripts" / "make_pyfiles_zip.sh")],
        check=True,
        capture_output=True,
    )
    src = {
        p.relative_to(REPO).as_posix(): p.read_bytes()
        for p in (REPO / "extractor_spark").rglob("*.py")
    }
    with zipfile.ZipFile(ZIP) as zf:
        members = {n: zf.read(n) for n in zf.namelist() if not n.endswith("/")}
    missing = sorted(set(src) - set(members))
    extra = sorted(set(members) - set(src))
    stale = sorted(n for n in set(src) & set(members) if src[n] != members[n])
    assert not (missing or extra or stale), (
        f"missing={missing} extra={extra} stale={stale}"
    )
