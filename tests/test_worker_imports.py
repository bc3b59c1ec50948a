"""Lazy zip-archive invalidation (codec/worker_imports). The checks run
in a fresh interpreter, so this process's import machinery is never
patched."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from gibbon_spark.codec.worker_imports import lazy_zip_invalidation

    archive = os.path.join(sys.argv[1], "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "X = 1\\n")
    sys.path.insert(0, archive)
    import zmod_a

    assert zmod_a.X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    eager = reads.count(archive)

    lazy_zip_invalidation()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [], reads

    # an archive changed after an invalidation is read at its next lookup
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zmod_b.py", "Y = 2\\n")
    import zmod_b

    assert zmod_b.Y == 2
    assert reads == [archive], reads

    # a deleted archive holds no modules: a lookup finds nothing and
    # raises nothing
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer.find_spec("zmod_c") is None

    # a second call changes nothing
    patched = dict(vars(zipimport.zipimporter))
    lazy_zip_invalidation()
    assert dict(vars(zipimport.zipimporter)) == patched
    print("eager", eager)
    """
)


def test_lazy_zip_invalidation_in_a_fresh_interpreter(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    # the interpreter's own invalidation is eager before 3.12, lazy after
    eager = int(out.stdout.split()[-1])
    assert eager == (1 if sys.version_info < (3, 12) else 0)
