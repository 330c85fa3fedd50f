"""Generation-pointer snapshot commit protocol.

Shared by the batch materializer (``store.FeatureStore.materialize``)
and the streaming upsert sink (``streaming.clickstream.
online_upsert_sink``): a snapshot lives as immutable ``v=N``
generation directories behind a ``_CURRENT`` pointer file.

Commit is two durable steps — (1) fsync a ``_COMMITTED`` marker into
the fully-assembled generation, after its files and its ``_SCHEMA``
manifest (``sources/files.py``), (2) fsync + atomically rename the
pointer — so a crash at ANY point leaves either the previous pointer
(and its intact generation) or a marker from which the pointer is
reconstructed.  Readers resolve the pointer once and then read a tree
that is never mutated; a retention window of recent generations gives
in-flight readers a grace period (a lease protocol is the
object-store-native upgrade).

The marker is JSON holding, for a batch materialization, the
high-water-mark offline partition it read up to.  It is fsynced before
the pointer flips, so the mark commits atomically with the data.  A
generation is an ordinary engine table: read it with
``sources.files.read_table``.  On an object store the pointer file and
the markers become the table's metadata log — this is the standard
table-format commit protocol built from filesystem primitives.
"""

from __future__ import annotations

import json
import os
import shutil

#: The per-generation commit marker (see module doc).
MARKER = "_COMMITTED"

#: Committed generations retained besides the current one.  This is a
#: GRACE WINDOW for in-flight readers, not a lease: a scan that
#: outlives GEN_RETAIN commits can still lose its files.  Size it to
#: (longest expected read) / (commit cadence).
GEN_RETAIN = 2


def read_generation(path: str) -> int | None:
    """Current snapshot generation: the pointer file if intact, else
    the highest generation carrying a ``_COMMITTED`` marker (the
    marker lands — fsynced — before the pointer flips, so a missing or
    torn pointer can always be reconstructed from it; a partial build
    never has one).  Returns None only when nothing was ever
    committed."""
    f = os.path.join(path, "_CURRENT")
    try:
        with open(f) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        pass  # absent or torn pointer: recover from markers
    best = None
    if os.path.isdir(path):
        for d in os.listdir(path):
            if d.startswith("v=") and os.path.exists(os.path.join(path, d, MARKER)):
                g = int(d.split("=", 1)[1])
                best = g if best is None or g > best else best
    return best


def resolve_snapshot(path: str) -> str | None:
    """Path of the current immutable snapshot generation (readers call
    this, then read a directory that is never mutated)."""
    gen = read_generation(path)
    return None if gen is None else os.path.join(path, f"v={gen}")


def generation_dir(path: str, gen: int) -> str:
    return os.path.join(path, f"v={gen}")


def gc_generations(path: str, cur: int | None, retain: int = GEN_RETAIN) -> None:
    """Remove crashed partial builds (newer than the resolved pointer —
    a COMMITTED generation would have been resolved) and generations
    beyond the retention window."""
    if not os.path.isdir(path):
        return
    for d in os.listdir(path):
        if d.startswith("v="):
            g = int(d.split("=", 1)[1])
            if cur is None or g > cur or g < cur - retain:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def read_marker(gen_dir: str) -> dict:
    """The marker of a committed generation: ``{"hwm": <partition value
    or None>}``."""
    with open(os.path.join(gen_dir, MARKER)) as fh:
        return json.load(fh)


def commit_generation(path: str, new_gen: int, hwm: str | None = None) -> None:
    """Durably commit a fully-assembled ``v=new_gen`` directory: fsync
    the marker carrying ``hwm``, then fsync + atomically rename the
    pointer, then :func:`gc_generations` from the new pointer."""
    marker = os.path.join(generation_dir(path, new_gen), MARKER)
    with open(marker, "w") as fh:
        json.dump({"hwm": hwm}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    write_atomic(os.path.join(path, "_CURRENT"), str(new_gen))
    gc_generations(path, new_gen)


def write_atomic(path: str, text: str) -> None:
    """Replace the file ``path`` with ``text`` atomically: fsync a
    sibling temp file, then rename it over ``path``, so a reader sees
    the old content or the new, never a torn mix."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
