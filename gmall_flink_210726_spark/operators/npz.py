r"""NPY / NPZ — numpy's array serialization (the de-facto
embedding-dump format: faiss training sets, sentence-transformer
caches, eval activations all ship ``.npy`` / ``.npz``).  Format per
the public NEP spec (numpy.org "the NPY format", numpy/lib/format.py
docstring):

- NPY: magic ``\x93NUMPY``, version (1.0: u16 header length /
  2.0: u32), then an ASCII Python-dict header ``{'descr': '<f8',
  'fortran_order': False, 'shape': (n, d)}`` padded with spaces to
  64-byte alignment and TERMINATED BY ``\n``, then the raw array
  bytes.
- NPZ: a STORED zip of ``<name>.npy`` members (numpy writes via
  zipfile) — the central-directory walk with per-member CRC32 here
  follows the ZIP grammar the repo already pins (`operators/zipc.py`).

Trust chain: zip CRCs; NPY magic/version; the header must be a
flat dict literal with exactly the three spec keys, space-padded and
newline-terminated (the alignment rule real writers obey); descr
limited to little-endian ``<f8``/``<i8``; the declared shape TIMES
itemsize must equal the member's byte length exactly — a shape lie
cannot hide; Fortran-order arrays are decoded with the correct
striding, proven by an order-SENSITIVE metric (the first-row sum:
a C-order misread of an F-order matrix scrambles it while the total
sum would not notice).  Values are integer-valued, summed exactly.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference (gmall-flink Java) has no array
path; extends SURVEY §2.12's beyond-reference multimodal family.
"""

from __future__ import annotations

import ast
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

def _zip_members(data: bytes) -> list[tuple[str, bytes]] | None:
    """STORED-zip members with per-member CRC32 proof — the single
    shared grammar in `operators/zipc.py` (`_iter_zip_entries`),
    names decoded latin-1."""
    from gmall_flink_210726_spark.operators.zipc import (
        _iter_zip_entries,
    )

    got = _iter_zip_entries(data)
    if got is None:
        return None
    members, _cd = got
    return [(n.decode("latin-1"), p) for n, p in members]


_ITEMSIZE = {"<f8": 8, "<i8": 8}


def parse_npy(blob: bytes) -> tuple[dict, bytes] | None:
    """NPY header walk -> (header dict, raw data bytes); None on any
    violation of the NEP grammar (module doc)."""
    if len(blob) < 10 or blob[:6] != b"\x93NUMPY":
        return None
    major, minor = blob[6], blob[7]
    if minor != 0 or major not in (1, 2):
        return None
    if major == 1:
        (hlen,) = struct.unpack_from("<H", blob, 8)
        hstart = 10
    else:
        if len(blob) < 12:
            return None
        (hlen,) = struct.unpack_from("<I", blob, 8)
        hstart = 12
    hend = hstart + hlen
    if hend > len(blob):
        return None
    if hend % 64:
        return None  # the spec's 64-byte alignment rule
    header = blob[hstart:hend]
    if not header.endswith(b"\n"):
        return None
    text = header.rstrip(b"\n").rstrip(b" ").decode("ascii", "strict")
    try:
        d = ast.literal_eval(text)
    except (ValueError, SyntaxError):
        return None
    if (
        not isinstance(d, dict)
        or set(d) != {"descr", "fortran_order", "shape"}
    ):
        return None
    descr = d["descr"]
    shape = d["shape"]
    if descr not in _ITEMSIZE:
        return None
    if not isinstance(d["fortran_order"], bool):
        return None
    if not isinstance(shape, tuple) or not all(
        isinstance(x, int) and x >= 0 for x in shape
    ):
        return None
    n_elems = 1
    for x in shape:
        n_elems *= x
    data = blob[hend:]
    if len(data) != n_elems * _ITEMSIZE[descr]:
        return None  # a shape lie cannot hide
    return d, data


def read_npz_embeddings(data: bytes) -> dict | None:
    """NPZ of ``emb.npy`` (2-D f8) + ``ids.npy`` (1-D i8) -> exact
    stats; None on any violation.  The first-row sum is the
    ORDER-SENSITIVE proof that Fortran-order striding decodes
    correctly."""
    members = _zip_members(data)
    if members is None:
        return None
    byname = dict(members)
    if set(byname) != {"emb.npy", "ids.npy"} or len(members) != 2:
        return None
    got = parse_npy(byname["emb.npy"])
    if got is None:
        return None
    eh, edata = got
    if eh["descr"] != "<f8" or len(eh["shape"]) != 2:
        return None
    n, dcols = eh["shape"]
    if n == 0 or dcols == 0:
        return None
    vals = struct.unpack(f"<{n * dcols}d", edata)
    for x in vals:
        if x != int(x):
            return None  # fixture doubles are integral
    if eh["fortran_order"]:
        # element (r, c) lives at c * n + r
        row0 = [vals[c * n] for c in range(dcols)]
    else:
        row0 = list(vals[:dcols])
    got = parse_npy(byname["ids.npy"])
    if got is None:
        return None
    ih, idata = got
    if (
        ih["descr"] != "<i8"
        or len(ih["shape"]) != 1
        or ih["fortran_order"]
    ):
        return None
    if ih["shape"][0] != n:
        return None  # ids must align with emb rows
    ids = struct.unpack(f"<{n}q", idata)
    return {
        "n_arrays": 2,
        "emb_rows": n,
        "emb_cols": dcols,
        "emb_sum": int(sum(vals)),
        "emb_row0_sum": int(sum(row0)),
        "ids_sum": sum(ids),
    }


NPZ_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_arrays", LongType()),
        StructField("emb_rows", LongType()),
        StructField("emb_cols", LongType()),
        StructField("emb_sum", LongType()),
        StructField("emb_row0_sum", LongType()),
        StructField("ids_sum", LongType()),
    ]
)


def npz_stats(df: DataFrame) -> DataFrame:
    """NPZ embedding-dump walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_npz_embeddings, NPZ_SCHEMA, "npz")


def _npz_rows(i: int) -> int:
    return 10 + i % 20


def _npz_cols(i: int) -> int:
    return 8 + i % 8


def _npz_emb(i: int, r: int, c: int) -> int:
    return (3 * i + 5 * r + 7 * c) % 1001 - 500


def _npz_id(i: int, r: int) -> int:
    return (11 * i + 13 * r) % 100000


def make_npz(i: int) -> bytes:
    """Real numpy-serialized NPZ: ``emb`` (f8 matrix, FORTRAN order
    on odd ids — the striding proof) + ``ids`` (i8 vector). Lies
    (patched into the NPY bytes BEFORE zipping, so the zip CRCs stay
    true and only the NPY books can refuse): every 13th id pads the
    emb shape up by one row (data-length mismatch); every 17th-miss
    id declares big-endian ``>f8`` (unsupported byte order); every
    19th-miss id overwrites the header's terminating newline (the
    alignment/termination rule)."""
    import io
    import zipfile

    import numpy as np

    n, d = _npz_rows(i), _npz_cols(i)
    emb = np.array(
        [
            [float(_npz_emb(i, r, c)) for c in range(d)]
            for r in range(n)
        ],
        dtype="<f8",
    )
    if i % 2 == 1:
        emb = np.asfortranarray(emb)
    ids = np.array(
        [_npz_id(i, r) for r in range(n)], dtype="<i8"
    )

    def npy_bytes(arr) -> bytes:
        buf = io.BytesIO()
        np.lib.format.write_array(buf, arr, allow_pickle=False)
        return buf.getvalue()

    eb = bytearray(npy_bytes(emb))
    ib = npy_bytes(ids)
    if i % 13 == 0:
        old = b"(%d, %d)" % (n, d)
        new = b"(%d, %d)" % (n + 1, d)
        k = bytes(eb).find(old)
        assert k >= 0
        # n is always in [10, 29], so n and n+1 are both two digits
        # and the header length (and 64-alignment) are unchanged
        assert len(new) == len(old)
        eb = bytearray(
            bytes(eb[:k]) + new + bytes(eb[k + len(old) :])
        )
    elif i % 17 == 0:
        k = bytes(eb).find(b"'<f8'")
        assert k >= 0
        eb[k + 1 : k + 4] = b">f8"
    elif i % 19 == 0:
        (hlen,) = struct.unpack_from("<H", eb, 8)
        eb[10 + hlen - 1] = 0x20  # newline -> space
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        z.writestr("emb.npy", bytes(eb))
        z.writestr("ids.npy", ib)
    return out.getvalue()


def synthesize_npz_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of NPZ embedding dumps."""
    return synthesize_blobs(docs, make_npz, blob_meta("npz"))
