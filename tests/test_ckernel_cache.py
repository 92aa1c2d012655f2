"""Compiled-kernel cache safety: the shared object is only ever loaded
from a per-user cache dir the current uid owns and nobody else can
write, never from the shared tempdir. Each case runs ``get_kernel()`` in
a fresh interpreter with its own ``XDG_CACHE_HOME`` / ``TMPDIR``; a
planted object is a real shared library whose constructor writes a
marker file, so "never loaded" is observable."""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from qfspark import ckernel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = hashlib.md5(ckernel._C_SRC.encode()).hexdigest()[:16]
SO_NAME = f"qf_ckernel_{TAG}.so"

pytestmark = pytest.mark.skipif(
    shutil.which(os.environ.get("CC", "cc")) is None,
    reason="needs a C compiler")

_PLANT_SRC = """
#include <stdio.h>
__attribute__((constructor)) static void planted(void) {
    FILE *f = fopen("%s", "w");
    if (f) { fputs("loaded", f); fclose(f); }
}
"""


def _plant(dirpath, marker):
    """Compile a shared object at dirpath/SO_NAME that touches marker
    when loaded."""
    src = os.path.join(os.path.dirname(marker), "plant.c")
    with open(src, "w") as f:
        f.write(_PLANT_SRC % marker)
    os.makedirs(dirpath, exist_ok=True)
    subprocess.run([os.environ.get("CC", "cc"), "-shared", "-fPIC", "-o",
                    os.path.join(dirpath, SO_NAME), src], check=True)


def _run_get_kernel(cache_home, tmpdir):
    """(loaded, load_error, stderr) from get_kernel() in a fresh
    interpreter."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache_home),
               TMPDIR=str(tmpdir), PYTHONPATH=REPO)
    env.pop("QFSPARK_NO_CKERNEL", None)
    code = ("import json; from qfspark import ckernel as c; "
            "lib = c.get_kernel(); "
            "print(json.dumps([lib is not None, c.load_error]))")
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, check=True)
    loaded, err = json.loads(out.stdout.strip().splitlines()[-1])
    return loaded, err, out.stderr


def _get_kernel(cache_home, tmpdir):
    """(loaded, load_error) from get_kernel() in a fresh interpreter."""
    return list(_run_get_kernel(cache_home, tmpdir)[:2])


def test_uncreatable_cache_dir_loads_nothing_from_tempdir(tmp_path):
    tmpdir = tmp_path / "tmp"
    marker = tmp_path / "marker"
    _plant(str(tmpdir), str(marker))
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")  # a file: the cache dir under it can't exist
    loaded, err, stderr = _run_get_kernel(blocker / "sub", tmpdir)
    assert not marker.exists()
    assert not loaded and err
    # the silent-fallback reason is logged once, at WARNING
    assert stderr.count(err) == 1


def test_planted_tempdir_object_is_never_loaded(tmp_path):
    tmpdir = tmp_path / "tmp"
    marker = tmp_path / "marker"
    _plant(str(tmpdir), str(marker))
    loaded, err = _get_kernel(tmp_path / "cache", tmpdir)
    assert not marker.exists()
    assert loaded and err is None
    assert (tmp_path / "cache" / "qfspark" / SO_NAME).exists()


def test_group_writable_cache_dir_is_refused(tmp_path):
    cache = tmp_path / "cache" / "qfspark"
    marker = tmp_path / "marker"
    _plant(str(cache), str(marker))
    os.chmod(cache, 0o775)
    loaded, err = _get_kernel(tmp_path / "cache", tmp_path)
    assert not marker.exists()
    assert not loaded and "writable by group or other" in err


def test_existing_0755_cache_dir_keeps_working_and_is_tightened(tmp_path):
    cache = tmp_path / "cache" / "qfspark"
    cache.mkdir(parents=True)
    os.chmod(cache, 0o755)
    loaded, err = _get_kernel(tmp_path / "cache", tmp_path)
    assert loaded and err is None
    assert (cache / SO_NAME).exists()
    assert os.stat(cache).st_mode & 0o777 == 0o700
    # the cached object is reused as is on the next start
    mtime = os.stat(cache / SO_NAME).st_mtime_ns
    assert _get_kernel(tmp_path / "cache", tmp_path) == [True, None]
    assert os.stat(cache / SO_NAME).st_mtime_ns == mtime


@pytest.mark.skipif(os.getuid() != 0, reason="chown needs root")
def test_foreign_owned_cache_dir_and_object_are_refused(tmp_path):
    cache = tmp_path / "cache" / "qfspark"
    marker = tmp_path / "marker"
    _plant(str(cache), str(marker))
    os.chmod(cache, 0o700)
    os.chown(cache / SO_NAME, 65534, 65534)
    loaded, err = _get_kernel(tmp_path / "cache", tmp_path)
    assert not marker.exists()
    assert not loaded and "owned by uid" in err
    os.chown(cache, 65534, 65534)
    loaded, err = _get_kernel(tmp_path / "cache", tmp_path)
    assert not marker.exists()
    assert not loaded and "owned by uid" in err
