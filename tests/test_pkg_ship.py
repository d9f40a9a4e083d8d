"""The shipped package zip must be content-addressed (r12).

A fixed /tmp path raced between concurrent sessions from different
source trees: the second process rewrote the zip in place and the
first's executors failed Spark's fetch consistency check. The zip name
now embeds a hash of its bytes, so different trees get different
files and identical trees re-land identical bytes atomically.
"""

import os
import stat
import zipfile

import citus_spark
from citus_spark.queries import _write_pkg_zip

PKG = os.path.dirname(os.path.abspath(citus_spark.__file__))


def test_zip_name_embeds_content_hash():
    p = _write_pkg_zip(PKG)
    base = os.path.basename(p)
    assert base.startswith("citus_spark_pkg_") and base.endswith(".zip")
    digest = base[len("citus_spark_pkg_"):-len(".zip")]
    assert len(digest) == 12
    import hashlib

    with open(p, "rb") as fh:
        assert hashlib.sha256(fh.read()).hexdigest()[:12] == digest


def test_zip_is_deterministic_and_complete():
    p1 = _write_pkg_zip(PKG)
    p2 = _write_pkg_zip(PKG)
    assert p1 == p2  # same tree -> same bytes -> same name
    names = zipfile.ZipFile(p1).namelist()
    assert any(n.endswith("citus_spark/queries/__init__.py") for n in names)
    assert any(n.endswith("citus_spark/session.py") for n in names)
    assert not any("__pycache__" in n for n in names)
    # world-readable so other sessions landing on the same digest (and
    # cluster executors) can fetch it
    assert stat.S_IMODE(os.stat(p1).st_mode) == 0o644


def _sha256(path):
    import hashlib

    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_zip_lives_in_a_private_directory(tmp_path, monkeypatch):
    # on a shared /tmp anyone could plant a file under a shared name:
    # the zip lands in a 0700 directory owned by this user
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = os.path.dirname(_write_pkg_zip(PKG))
    assert d == str(tmp_path / f"citus_spark_pkg-{os.getuid()}")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert os.stat(d).st_uid == os.getuid()


def test_planted_zip_under_the_expected_name_is_not_shipped(
    tmp_path, monkeypatch
):
    # a zip whose bytes do not hash to its name — under the shared
    # name or in the private directory — must never be returned
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    good = _write_pkg_zip(PKG)
    digest = _sha256(good)
    shared = tmp_path / os.path.basename(good)
    for planted in (good, str(shared)):
        with open(planted, "wb") as fh:
            fh.write(b"PK\x05\x06 planted")
    p = _write_pkg_zip(PKG)
    assert p == good and _sha256(p) == digest
    assert shared.read_bytes() == b"PK\x05\x06 planted"  # left alone


def test_opened_up_private_directory_is_not_used(tmp_path, monkeypatch):
    # a directory under the private name that is not 0700 (or not
    # ours) could be written by others: build in a fresh one instead
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    open_dir = tmp_path / f"citus_spark_pkg-{os.getuid()}"
    open_dir.mkdir()
    open_dir.chmod(0o777)
    d = os.path.dirname(_write_pkg_zip(PKG))
    assert d != str(open_dir) and os.path.dirname(d) == str(tmp_path)
    assert os.path.basename(d).startswith(f"citus_spark_pkg-{os.getuid()}-")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert os.listdir(open_dir) == []


def test_reused_zip_is_touched(tmp_path, monkeypatch):
    # a zip taken on the reuse branch is in use again: its mtime is
    # refreshed so another process's 7-day aging cannot delete it
    import tempfile
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    p = _write_pkg_zip(PKG)
    old = time.time() - 30 * 86400
    os.utime(p, (old, old))
    assert _write_pkg_zip(PKG) == p
    assert os.path.getmtime(p) > old + 86400


def test_aged_zips_of_old_trees_are_removed(tmp_path, monkeypatch):
    import tempfile
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    p = _write_pkg_zip(PKG)
    old_zip = os.path.join(os.path.dirname(p), "citus_spark_pkg_000000000000.zip")
    with open(old_zip, "wb") as fh:
        fh.write(b"PK\x05\x06 old build")
    aged = time.time() - 30 * 86400
    os.utime(old_zip, (aged, aged))
    assert _write_pkg_zip(PKG) == p
    assert os.listdir(os.path.dirname(p)) == [os.path.basename(p)]
