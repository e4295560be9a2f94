"""``session.pin_archive_importers`` without Spark: a pinned archive
importer is not re-read by ``importlib.invalidate_caches()``, and
directory finders are still invalidated."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

from rdf_canonize_spark.session import pin_archive_importers


def test_pinned_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pin_zipped_mod.py", "VALUE = 'from zip'\n")
    loose = tmp_path / "loose"
    loose.mkdir()
    monkeypatch.setattr(sys, "path", [archive, str(loose), *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", {})
    try:
        assert importlib.import_module("pin_zipped_mod").VALUE == "from zip"
        assert isinstance(sys.path_importer_cache[archive],
                          zipimport.zipimporter)
        # the loose directory's finder caches its listing now, before
        # the module below exists
        assert importlib.util.find_spec("pin_dropped_mod") is None

        pin_archive_importers()

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        (loose / "pin_dropped_mod.py").write_text("VALUE = 'loose'\n")
        importlib.invalidate_caches()

        assert archive not in reads
        assert importlib.import_module("pin_dropped_mod").VALUE == "loose"
        assert sys.path_importer_cache[archive].find_spec(
            "pin_zipped_mod") is not None
    finally:
        for name in ("pin_zipped_mod", "pin_dropped_mod"):
            sys.modules.pop(name, None)
