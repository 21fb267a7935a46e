"""Legacy VTK reader and writer — pure numpy, no VTK/pyvista.

The reference loads grids and meshes through ``pv.read``
(``pd_vtk.py:50-87``, ``pd_vtk.py:533-547``); its shipped sample data
(``sample_data/std_voxel_vtk.zip``) is binary legacy VTK 5.1:

- ``std_voxel_schema0.vtk``: DATASET STRUCTURED_GRID, 31x21x21 points,
  CELL_DATA 12000 with a SCALARS array and a FIELD containing an int
  array and a string array;
- ``vox_region*.vtk`` / ``vox_mine_*.vtk``: DATASET POLYDATA with
  POINTS + POLYGONS in the 5.1 OFFSETS/CONNECTIVITY layout.

``read_vtk`` parses that public file format (VTK legacy format spec) in
both encodings: ASCII section headers, then either big-endian binary
payloads (``BINARY``) or whitespace-separated values (``ASCII``) — one
section walker; only the cursor's payload readers know the encoding.
``write_vtk`` writes binary 5.1, the default of pyvista's ``save``, for
generated samples, meshes and test files.  Driver-side ingest only —
geometry files are small next to the block model; the parsed tables
enter Spark via ``createDataFrame`` (same seam as the OBJ/DXF/SHP
codecs in this package).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

_DTYPES = {
    b"double": ">f8",
    b"float": ">f4",
    b"int": ">i4",
    b"long": ">i8",
    b"vtktypeint64": ">i8",
    b"vtktypeint32": ">i4",
    b"unsigned_char": ">u1",
    b"short": ">i2",
    b"char": ">i1",
}


@dataclass
class VtkDataset:
    kind: str                       # STRUCTURED_GRID | POLYDATA | UNSTRUCTURED_GRID
    points: np.ndarray              # (n, 3) float64
    dimensions: tuple | None = None  # point dims (nx+1, ny+1, nz+1) for grids
    faces: np.ndarray | None = None  # (m, 3) int triangles (fans and strips split)
    cell_data: dict = field(default_factory=dict)
    point_data: dict = field(default_factory=dict)
    field_data: dict = field(default_factory=dict)

    @property
    def n_cells(self) -> int:
        if self.dimensions is not None:
            nx, ny, nz = self.dimensions
            return max(nx - 1, 1) * max(ny - 1, 1) * max(nz - 1, 1)
        return 0 if self.faces is None else len(self.faces)


#: attribute sections whose payload this parser doesn't decode —
#: encountered mid-stream they must abort, not line-skip
_UNDECODED_SECTIONS = frozenset(
    (b"VECTORS", b"NORMALS", b"TEXTURE_COORDINATES", b"TENSORS",
     b"COLOR_SCALARS", b"LOOKUP_TABLE",
     # SCALARS is normally consumed inside _read_attributes; one that
     # surfaces in the MAIN loop (e.g. after a METADATA block made
     # _read_attributes return early) still fronts a payload —
     # line-skipping it would misread payload bytes as section headers
     b"SCALARS")
)

#: POLYDATA cell sections; POLYGONS and TRIANGLE_STRIPS become faces
_CELL_SECTIONS = frozenset((b"VERTICES", b"LINES", b"POLYGONS", b"TRIANGLE_STRIPS"))


class _Cursor:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.text = False  # ASCII encoding: payloads are whitespace tokens

    def line(self) -> bytes:
        nl = self.data.find(b"\n", self.pos)
        if nl < 0:  # EOF without trailing newline: remainder is the line
            out = self.data[self.pos:]
            self.pos = len(self.data)
        else:
            out = self.data[self.pos:nl]
            self.pos = nl + 1
        return out.strip()

    def peek_line(self) -> bytes:
        save = self.pos
        out = self.line()
        self.pos = save
        return out

    def eof(self) -> bool:
        return self.pos >= len(self.data)

    def array(self, dtype: str, count: int) -> np.ndarray:
        """``count`` values of big-endian ``dtype``: raw bytes in a BINARY
        file, whitespace tokens in an ASCII one.  Text parses at native
        byte order, and floats at double precision whatever the declared
        width — the digits in the file are the data."""
        if self.text:
            toks: list[bytes] = []
            while len(toks) < count and not self.eof():
                toks += self.line().split()
            if len(toks) != count:
                raise ValueError(
                    f"expected {count} values, found {len(toks)} before byte {self.pos}"
                )
            dt = np.dtype(dtype)
            return np.array(toks, bytes).astype(
                np.float64 if dt.kind == "f" else dt.newbyteorder("=")
            )
        out = np.frombuffer(self.data, dtype=dtype, count=count, offset=self.pos)
        self.pos += out.nbytes
        # payloads are newline-terminated before the next section header
        if self.pos < len(self.data) and self.data[self.pos:self.pos + 1] == b"\n":
            self.pos += 1
        return out

    def strings(self, count: int) -> list[str]:
        """Binary vtkStringArray payload: each value is a length byte
        ``0xC0 | len`` followed by the bytes (observed encoding for
        strings < 64 chars — the sample data's ``lito`` array)."""
        if self.text:
            raise ValueError("string arrays in ASCII legacy VTK are not supported")
        out = []
        for _ in range(count):
            b = self.data[self.pos]
            if b < 0xC0:
                raise ValueError(
                    f"unsupported vtk string length prefix 0x{b:02x} at {self.pos}"
                )
            ln = b - 0xC0
            out.append(self.data[self.pos + 1:self.pos + 1 + ln].decode("latin-1"))
            self.pos += 1 + ln
        if self.data[self.pos:self.pos + 1] == b"\n":
            self.pos += 1
        return out


def _read_field(cur: _Cursor, n_arrays: int) -> dict:
    out = {}
    for _ in range(n_arrays):
        name, ncomp, ntup, typ = cur.line().split()
        ncomp, ntup = int(ncomp), int(ntup)
        if typ == b"string":
            out[name.decode()] = np.array(cur.strings(ncomp * ntup), dtype=object)
        else:
            arr = cur.array(_DTYPES[typ], ncomp * ntup)
            out[name.decode()] = arr if ncomp == 1 else arr.reshape(ntup, ncomp)
    return out


def _read_attributes(cur: _Cursor, n: int) -> dict:
    """SCALARS/FIELD blocks after a CELL_DATA/POINT_DATA count line."""
    out = {}
    while not cur.eof():
        head = cur.peek_line()
        if not head:
            cur.line()
        elif head.startswith(b"SCALARS"):
            cur.line()
            toks = head.split()
            _, name, typ = toks[:3]
            if len(toks) >= 4 and int(toks[3]) != 1:
                raise ValueError(
                    f"unsupported SCALARS with numComp={int(toks[3])}: "
                    f"{name.decode()!r} (line-skipping past a binary "
                    "payload would corrupt the parse)"
                )
            lut = cur.peek_line()
            if lut.startswith(b"LOOKUP_TABLE"):
                cur.line()
            out[name.decode()] = cur.array(_DTYPES[typ], n)
        elif head.startswith(b"FIELD"):
            cur.line()
            out.update(_read_field(cur, int(head.split()[2])))
        elif head.startswith(b"METADATA"):
            # VTK >= 8 interleaves text METADATA blocks between arrays
            # (terminated by a blank line): skip it INLINE and keep
            # reading attributes — returning early here would strand the
            # following SCALARS header in the main loop
            cur.line()
            while not cur.eof() and cur.peek_line():
                cur.line()
        elif head.split()[0] in _UNDECODED_SECTIONS:
            # these carry a payload this parser doesn't decode;
            # skipping them line-wise would misread payload bytes as
            # section headers, so fail loudly instead
            raise ValueError(
                f"unsupported legacy-VTK attribute section {head.split()[0].decode()!r}"
            )
        else:
            break
    return out


def _read_cells(cur: _Cursor, n: int, size: int) -> tuple[np.ndarray, np.ndarray]:
    """One cell section's ``(offsets, connectivity)``: the 5.1
    ``OFFSETS``/``CONNECTIVITY`` layout (``n`` offsets), or the older
    count-prefixed layout (``n`` cells in ``size`` ints)."""
    sub = cur.peek_line()
    if sub.startswith(b"OFFSETS"):
        cur.line()
        offs = cur.array(_DTYPES[sub.split()[1]], n).astype(np.int64)
        conn_head = cur.line()  # CONNECTIVITY <type>
        return offs, cur.array(_DTYPES[conn_head.split()[1]], size).astype(np.int64)
    flat = cur.array(">i4", size).astype(np.int64)
    heads = [0]
    while heads[-1] < len(flat):
        heads.append(heads[-1] + 1 + int(flat[heads[-1]]))
    heads = np.asarray(heads[:-1], np.int64)
    return np.concatenate([[0], np.cumsum(flat[heads])]), np.delete(flat, heads)


def triangulate(offs: np.ndarray, conn: np.ndarray, strips: bool = False) -> np.ndarray:
    """Cells (vertex ids ``conn[offs[c]:offs[c + 1]]``) -> ``(m, 3)``
    triangles.  Polygons fan from their first vertex (the normalization
    the reference gets from ``vtk_flat_quads_to_triangles``,
    ``pd_vtk.py:148-156``); strips take the sliding window with
    alternating winding the format defines — a fan would span the wrong
    diagonal from the second triangle on."""
    per_cell = np.maximum(np.diff(offs) - 2, 0)
    start = np.repeat(offs[:-1], per_cell)
    t = np.arange(len(start)) - np.repeat(np.cumsum(per_cell) - per_cell, per_cell)
    a = conn[start + t] if strips else conn[start]
    b, c = conn[start + t + 1], conn[start + t + 2]
    if strips:
        odd = t % 2 == 1
        b, c = np.where(odd, c, b), np.where(odd, b, c)
    return np.stack([a, b, c], 1)


def read_vtk(path: str) -> VtkDataset:
    """Parse a legacy-VTK file, ASCII or BINARY (STRUCTURED_GRID or
    POLYDATA)."""
    with open(path, "rb") as f:
        data = f.read()
    cur = _Cursor(data)
    magic = cur.line()
    if not magic.startswith(b"# vtk DataFile"):
        raise ValueError(f"not a legacy VTK file: {path}")
    cur.line()  # title
    fmt = cur.line().upper()
    if fmt not in (b"ASCII", b"BINARY"):
        raise ValueError(f"unknown legacy-VTK encoding {fmt!r} in {path}")
    cur.text = fmt == b"ASCII"
    dataset = cur.line().split()[1].decode()

    dims = None
    points = None
    faces = []
    cell_data: dict = {}
    point_data: dict = {}
    field_data: dict = {}

    while not cur.eof():
        head = cur.peek_line()
        if not head:
            cur.line()
            continue
        key = head.split()[0]
        if key == b"DIMENSIONS":
            cur.line()
            dims = tuple(int(v) for v in head.split()[1:4])
        elif key == b"POINTS":
            cur.line()
            n = int(head.split()[1])
            typ = head.split()[2]
            points = (
                cur.array(_DTYPES[typ], n * 3).astype(np.float64).reshape(n, 3)
            )
        elif key in _CELL_SECTIONS:
            cur.line()
            offs, conn = _read_cells(cur, int(head.split()[1]), int(head.split()[2]))
            if key in (b"POLYGONS", b"TRIANGLE_STRIPS"):
                faces.append(triangulate(offs, conn, strips=key == b"TRIANGLE_STRIPS"))
        elif key == b"CELL_DATA":
            cur.line()
            cell_data = _read_attributes(cur, int(head.split()[1]))
        elif key == b"POINT_DATA":
            cur.line()
            point_data = _read_attributes(cur, int(head.split()[1]))
        elif key == b"FIELD":
            cur.line()
            field_data = _read_field(cur, int(head.split()[2]))
        elif key == b"METADATA":
            cur.line()
            while not cur.eof() and cur.peek_line():
                cur.line()  # skip metadata block until blank line
        elif key in _UNDECODED_SECTIONS:
            # a payload we don't decode — line-skipping would
            # misinterpret payload bytes as headers; fail loudly
            raise ValueError(f"unsupported legacy-VTK section {key.decode()!r} in {path}")
        else:
            cur.line()  # unknown TEXT header (no payload) — skip the line
    if points is None:
        raise ValueError(f"no POINTS section in {path}")
    return VtkDataset(
        kind=dataset,
        points=points,
        dimensions=dims,
        faces=np.concatenate(faces) if faces else None,
        cell_data=cell_data,
        point_data=point_data,
        field_data=field_data,
    )


#: numpy dtype (``dtype.str`` without the byte order) -> legacy-VTK type
_VTK_TYPES = {"f8": b"double", "i4": b"int"}


def write_vtk(path: str, ds: VtkDataset) -> None:
    """Write ``ds`` as binary legacy VTK 5.1 in the layout :func:`read_vtk`
    parses: big-endian double ``POINTS``; ``DIMENSIONS`` for a structured
    grid; ``POLYGONS`` in the OFFSETS/CONNECTIVITY layout, where
    ``ds.faces`` may be polygons of any one size (``read_vtk`` fan-splits
    them into triangles); and ``CELL_DATA`` with one ``SCALARS`` per
    numeric cell array and one ``FIELD`` holding the string arrays
    (values under 64 bytes: one ``0xC0 | len`` prefix byte each).
    Point and dataset-level field data are not written."""
    parts = [b"# vtk DataFile Version 5.1\nvtk output\nBINARY\n"]
    parts.append(b"DATASET %s\n" % ds.kind.encode())
    if ds.dimensions is not None:
        parts.append(b"DIMENSIONS %d %d %d\n" % tuple(ds.dimensions))
    pts = np.asarray(ds.points, ">f8")
    parts += [b"POINTS %d double\n" % len(pts), pts.tobytes(), b"\n"]
    if ds.faces is not None:
        faces = np.asarray(ds.faces, ">i8")
        m, k = faces.shape
        offsets = (np.arange(m + 1) * k).astype(">i8")
        parts += [
            b"POLYGONS %d %d\n" % (m + 1, m * k),
            b"OFFSETS vtktypeint64\n", offsets.tobytes(), b"\n",
            b"CONNECTIVITY vtktypeint64\n", faces.tobytes(), b"\n",
        ]
    if ds.cell_data:
        parts.append(b"CELL_DATA %d\n" % ds.n_cells)
        strings = {}
        for name, arr in ds.cell_data.items():
            a = np.asarray(arr)
            if a.dtype == object:
                strings[name] = a
                continue
            typ = _VTK_TYPES[a.dtype.str[1:]]
            parts += [
                b"SCALARS %s %s\nLOOKUP_TABLE default\n" % (name.encode(), typ),
                a.astype(">" + a.dtype.str[1:]).tobytes(), b"\n",
            ]
        if strings:
            parts.append(b"FIELD FieldData %d\n" % len(strings))
            for name, a in strings.items():
                parts.append(b"%s 1 %d string\n" % (name.encode(), len(a)))
                for v in a:
                    b = str(v).encode("latin-1")
                    if len(b) >= 64:
                        raise ValueError(f"string cell value over 63 bytes: {v!r}")
                    parts += [bytes([0xC0 | len(b)]), b]
                parts.append(b"\n")
    with open(path, "wb") as fh:
        fh.write(b"".join(parts))


def grid_cell_table(ds: VtkDataset):
    """STRUCTURED_GRID -> pandas cell table: one row per cell with
    ``grid_df``'s columns (``cell, i, j, k``, centroid ``x, y, z``, cell
    edges ``dx, dy, dz``, ``volume``) and every cell-level array
    (CELL_DATA plus per-cell FIELD arrays) — the ``vtk_mesh_to_df``
    contract (``pd_vtk.py:375-433``).

    Two supported point layouts, both verified against the actual point
    stream before cell arrays are attached positionally (a mismatched
    layout would silently land arrays on the wrong ``(i,j,k)``):

    - **rectilinear** (axis-aligned, possibly non-uniform spacing): the
      tensor-product lattice of the per-axis unique coordinates;
    - **rotated regular** (``vtk_VoxelSG`` parity, ``pd_vtk.py:897-904``):
      ``P(i,j,k) = P0 + i·ex + j·ey + k·ez`` with the step vectors taken
      from the first point differences — covers z-rotated (bearing)
      models; the edges are ``|ex|, |ey|, |ez|`` and the volume is
      ``|det[ex ey ez]|``.

    An axis with one point layer holds one cell layer, as VTK counts it
    (``VtkDataset.n_cells``): its centroid is the layer's coordinate and
    its edge length 0.
    """
    import pandas as pd

    if ds.kind != "STRUCTURED_GRID" or ds.dimensions is None:
        raise ValueError("grid_cell_table needs a STRUCTURED_GRID dataset")
    npx, npy, npz = ds.dimensions
    P = ds.points
    if len(P) != npx * npy * npz:
        raise ValueError("POINTS count does not match DIMENSIONS")
    nx, ny, nz = max(npx - 1, 1), max(npy - 1, 1), max(npz - 1, 1)
    cell = np.arange(nx * ny * nz)
    i = cell % nx
    j = (cell // nx) % ny
    k = cell // (nx * ny)

    px, py, pz = (np.unique(P[:, a]) for a in range(3))
    lattice_ok = False
    if (len(px), len(py), len(pz)) == (npx, npy, npz):
        lattice = np.stack(
            [m.ravel(order="F") for m in np.meshgrid(px, py, pz, indexing="ij")], 1
        )
        lattice_ok = lattice.shape == P.shape and np.allclose(
            lattice, P, atol=1e-9
        )
    if lattice_ok:
        # a one-layer axis pads to a zero-length edge at its coordinate
        px, py, pz = (np.append(v, v) if len(v) == 1 else v for v in (px, py, pz))
        cx, cy, cz = ((v[:-1] + v[1:]) / 2.0 for v in (px, py, pz))
        x, y, z = cx[i], cy[j], cz[k]
        dx, dy, dz = (np.diff(v)[ix] for v, ix in ((px, i), (py, j), (pz, k)))
        volume = dx * dy * dz
    else:
        # rotated-regular fallback: fit the affine from the step vectors
        p0 = P[0]
        ex = P[1] - p0 if npx > 1 else np.zeros(3)
        ey = P[npx] - p0 if npy > 1 else np.zeros(3)
        ez = P[npx * npy] - p0 if npz > 1 else np.zeros(3)
        pi, pj, pk = np.meshgrid(
            np.arange(npx), np.arange(npy), np.arange(npz), indexing="ij"
        )
        model = (
            p0
            + pi.ravel(order="F")[:, None] * ex
            + pj.ravel(order="F")[:, None] * ey
            + pk.ravel(order="F")[:, None] * ez
        )
        scale = max(float(np.abs(P).max()), 1.0)
        if not np.allclose(model, P, atol=1e-7 * scale):
            raise ValueError(
                "structured grid points are neither a rectilinear lattice "
                "nor a regular affine grid; cell-array order would be "
                "misattributed"
            )
        centroids = (
            p0
            + (i[:, None] + 0.5) * ex
            + (j[:, None] + 0.5) * ey
            + (k[:, None] + 0.5) * ez
        )
        x, y, z = centroids[:, 0], centroids[:, 1], centroids[:, 2]
        dx, dy, dz = (np.full(len(cell), float(np.linalg.norm(e))) for e in (ex, ey, ez))
        volume = np.full(len(cell), abs(float(np.linalg.det(np.stack([ex, ey, ez])))))
    out = pd.DataFrame(
        {
            "cell": cell,
            "i": i.astype(np.int32),
            "j": j.astype(np.int32),
            "k": k.astype(np.int32),
            "x": x,
            "y": y,
            "z": z,
            "dx": dx,
            "dy": dy,
            "dz": dz,
            "volume": volume,
        }
    )
    n = len(cell)
    for src in (ds.cell_data, ds.field_data):
        for name, arr in src.items():
            if np.ndim(arr) == 1 and len(arr) == n:
                # legacy-VTK binary payloads are big-endian; convert to
                # native so Arrow createDataFrame stays zero-copy
                a = np.asarray(arr)
                if a.dtype.byteorder == ">":
                    a = a.astype(a.dtype.newbyteorder("="))
                out[name] = a
    return out
