"""Leapfrog mesh (``.msh``, ARANZ format) reader/writer.

The format is an open text-header + binary-payload container (reverse
engineered publicly; semantics per the reference's pure-``struct``
parser, ``_gui.py:1158-1209`` read / ``_gui.py:1233-1245`` write):

.. code-block:: text

    %%ARANZ-1.0

    [index]
    Tri Integer 3 <n_faces>;
    Location Double 3 <n_vertices>;

    [binary]<12-byte header><parts in index order, packed little-endian>

Each index entry is ``name type wide size``; when ``wide`` is 1 it is
omitted and the single number is the row count.  ``Integer`` packs as
int32, ``Double`` as float64, ``Float`` as float32 (struct code = first
letter of the type, lowercased).  The 12 bytes after ``[binary]`` are an
undocumented header (possibly an RGB color) that both the reference and
Leapfrog itself skip on read.

Like every mesh codec here the parse is driver-side: surfaces/solids are
KB-to-MB artifacts that become the broadcast side of spatial joins
(`sources/mesh.py` module docstring), so a distributed parse would buy
nothing — the 100 TB side is always the block model.
"""

from __future__ import annotations

import re
import struct

import numpy as np

from vtk_reserves_spark.sources.mesh import TriMesh

#: struct/numpy codes for the index "type" word (first letter, lowered)
_DTYPES = {"i": "<i4", "d": "<f8", "f": "<f4"}

#: the writer's fixed 12-byte binary header (reference ``_gui.py:1240``)
_BIN_HEADER = struct.pack("<3i", 15732735, 1115938331, 1072939210)

_INDEX_RE = re.compile(rb"(\w+)\s+(\w+)\s+(\d+)(?:[ \t]+(\d+))?")


def read_msh(path: str) -> TriMesh:
    """Parse a Leapfrog ``.msh`` into a :class:`TriMesh`.

    Faithful to the reference parse (``_gui.py:1158-1209``): the binary
    payload starts immediately after the ``[binary]`` token; the first
    12 bytes are skipped; parts are unpacked in index order, so files
    with extra parts (vertex attributes) still land ``Tri``/``Location``
    correctly.
    """
    with open(path, "rb") as fh:
        data = fh.read()
    # Leapfrog writes "%%ARANZ-1.0"; the reference's own writer emits a
    # single "%" (its %-formatting collapses the "%%" escape,
    # _gui.py:1238) — accept both.
    if not (data.startswith(b"%%ARANZ") or data.startswith(b"%ARANZ")):
        raise ValueError(f"not a Leapfrog msh file (missing %%ARANZ magic): {path}")
    hdr_end = data.find(b"[binary]")
    idx_start = data.find(b"[index]")
    if hdr_end < 0 or idx_start < 0 or idx_start > hdr_end:
        raise ValueError(f"malformed msh (no [index]/[binary] sections): {path}")

    parts = []
    for name, typ, wide, size in _INDEX_RE.findall(data[idx_start:hdr_end]):
        # "Name Type size;" (wide omitted when 1) vs "Name Type wide size;"
        if not size:
            wide, size = b"1", wide
        parts.append((name.decode("ascii"), typ.decode("ascii").lower(), int(wide), int(size)))

    binary = data[hdr_end + len(b"[binary]") :]
    store: dict[str, np.ndarray] = {}
    pos = len(_BIN_HEADER)  # skip the undocumented 12-byte header
    for name, typ, wide, size in parts:
        code = typ[:1]
        if code not in _DTYPES:
            raise ValueError(f"unsupported msh part type {typ!r} in {path}")
        dt = np.dtype(_DTYPES[code])
        nbytes = dt.itemsize * wide * size
        if pos + nbytes > len(binary):
            raise ValueError(
                f"truncated msh binary section: part {name!r} needs "
                f"{nbytes} bytes at offset {pos}, have {len(binary)}"
            )
        arr = np.frombuffer(binary, dtype=dt, count=wide * size, offset=pos)
        store[name] = arr.reshape(size, wide)
        pos += nbytes

    if "Location" not in store or "Tri" not in store:
        raise ValueError(f"msh missing Location/Tri parts: {sorted(store)}")
    import os

    return TriMesh(
        np.asarray(store["Location"], np.float64),
        np.asarray(store["Tri"], np.int64),
        name=os.path.splitext(os.path.basename(path))[0],
    )


def write_msh(mesh: TriMesh, path: str) -> None:
    """Write a :class:`TriMesh` as Leapfrog ``.msh`` — byte layout per the
    reference writer (``_gui.py:1233-1245``): ``Tri`` (int32) before
    ``Location`` (float64), both in index and binary order."""
    faces = np.ascontiguousarray(mesh.faces, dtype="<i4")
    verts = np.ascontiguousarray(mesh.vertices, dtype="<f8")
    header = (
        f"%%ARANZ-1.0\n\n[index]\n"
        f"Tri Integer 3 {len(faces)};\n"
        f"Location Double 3 {len(verts)};\n\n[binary]"
    ).encode("ascii")
    with open(path, "wb") as fh:
        fh.write(header)
        fh.write(_BIN_HEADER)
        fh.write(faces.tobytes())
        fh.write(verts.tobytes())
