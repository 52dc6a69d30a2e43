"""html_parser_spark — a PySpark-native HTML extraction / analytics engine.

A from-scratch reimplementation of the capabilities of the reference
engine ``SmallThingz/html_parser`` (a single-node Zig HTML parser +
CSS-selector library, surveyed in SURVEY.md) as an idiomatic Spark
stack:

* ``kernel``     — pure-Python/bytes HTML tokenizer, array-backed DOM,
                   entity/text decode, attribute parser, CSS selector
                   compiler and matcher.  This is the per-row engine
                   that runs *inside* Arrow-batched pandas UDFs; it has
                   no Spark dependency and is unit-tested against the
                   reference's own fixture matrix.
* ``operators``  — vectorized Spark operators built on the kernel
                   (selector counts, innerText, main-content
                   extraction) plus training-data-pipeline operators
                   (dedup exact/MinHash/SimHash/Jaccard, embedding
                   similarity, text stats, multimodal plumbing).
* ``sources``    — input-table builders (synthetic transcripts per
                   BASELINE.json ``input_hint``) and readers.
* ``plans``      — the end-to-end extraction pipeline: map-only kernel
                   stage, stable bucketing, ordering assertion,
                   per-partition checkpoint/lineage control table,
                   idempotent resume.
* ``streaming``  — Structured Streaming variant of the extraction
                   stage with watermarked windowed metrics.
"""

import os
import zipimport

__version__ = "0.1.0"


# PySpark's worker calls importlib.invalidate_caches() at the start of
# every task; before Python 3.13 that makes every zipimporter re-read
# its archive's central directory (pyspark.zip, the spark-core jar,
# py4j: ~0.15 s a task).  Every Python worker imports this package
# when it unpickles one of its UDFs, so from then on a zipimporter
# re-reads only an archive whose (inode, size, mtime) changed since its
# last read.  Python >= 3.13 re-reads lazily already (``_get_files``).
# Process-wide and permanent: an archive rewritten in place with the
# same inode and size within one mtime tick (coarse-mtime filesystems:
# some NFS, FAT) stays stale after invalidate_caches(), where the
# stdlib would re-read it.  Replace archives by rename, not in place.
def _reread_changed_archives_only(cls=zipimport.zipimporter):
    eager, stamps = cls.invalidate_caches, {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamps.get(self.archive) != stamp:
            eager(self)
            stamps[self.archive] = stamp
        else:
            self._files = files

    if not hasattr(cls, "_get_files"):
        cls.invalidate_caches = invalidate_caches


_reread_changed_archives_only()
