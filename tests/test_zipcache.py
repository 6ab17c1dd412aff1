"""zipcache: zip archive indexes are re-read only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import tempeh_spark  # noqa: F401  (installs the stamp check)
from tempeh_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_changed_archive_is_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_mod_a").VALUE == "a"
        # the first call stamps the new importer (one re-read); after that
        # an unchanged archive keeps its index object
        importlib.invalidate_caches()
        index = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is index

        # rewritten archive: the index is re-read and the new module imports
        _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n", "zc_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not index
        assert importlib.import_module("zc_mod_b").VALUE == "b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def test_install_is_idempotent():
    zipcache.install()
    patched = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched
    assert patched._tempeh_stamped
    # wraps the stdlib method itself, never an earlier copy of the wrapper
    assert not getattr(patched.__wrapped__, "_tempeh_stamped", False)


def test_worker_keeps_unchanged_archive_indexes(spark):
    """Spark calls importlib.invalidate_caches() at the start of every Python
    task; in a worker that imported tempeh_spark the pyspark/py4j/jar
    indexes must survive it. The probe is local so it pickles by value."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import tempeh_spark  # noqa: F401

        # the first call after install() stamps every importer (one re-read)
        importlib.invalidate_caches()
        cache = zipimport._zip_directory_cache
        archives = [a for a in sys.path if a in cache]
        before = {a: cache[a] for a in archives}
        importlib.invalidate_caches()
        yield from ((a, cache.get(a) is before[a]) for a in archives)

    kept = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert kept, "no zip archive on the worker's sys.path"
    assert all(same for _, same in kept), kept
