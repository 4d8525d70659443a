"""Zarr v3 array/group read-write against any store client of ``fs.py``.

Chunk layout and metadata follow the v3 core spec; compression parity with
the reference's codec profiles (zstd level 3/9 — ``codecs/defaults.py``).
Edge chunks are stored padded to the full chunk shape and sliced on read,
as the spec requires.  Every function takes the store client as ``fs``;
without one it resolves :func:`..fs.task_fs` for the path, which is what
the Spark tasks that read and write partitions do with the driver's
shipped env snapshot.
"""

from __future__ import annotations

import dataclasses
import gzip
import json
import math
from pathlib import Path
from typing import Any, Mapping

import numpy as np

from ..fs import task_fs

ZARR_FORMAT = 3

_CORE_DTYPES = {
    "bool": "bool",
    "int8": "int8", "int16": "int16", "int32": "int32", "int64": "int64",
    "uint8": "uint8", "uint16": "uint16", "uint32": "uint32",
    "uint64": "uint64",
    "float16": "float16", "float32": "float32", "float64": "float64",
}


def _zstd():
    import pyarrow as pa
    return pa.Codec("zstd")


def _compress(payload: bytes, codec: str, level: int) -> bytes:
    if codec == "zstd":
        import pyarrow as pa
        return pa.Codec("zstd", compression_level=level)\
            .compress(payload, asbytes=True)
    if codec == "gzip":
        return gzip.compress(payload, compresslevel=level)
    raise ValueError(f"unsupported codec {codec!r}")


def _decompress(payload: bytes, codec: str, nbytes: int) -> bytes:
    if codec == "zstd":
        return _zstd().decompress(payload, decompressed_size=nbytes,
                                  asbytes=True)
    if codec == "gzip":
        return gzip.decompress(payload)
    raise ValueError(f"unsupported codec {codec!r}")


def _encode_fill(value: Any, dtype: np.dtype) -> Any:
    if value is None:
        return 0 if dtype.kind in "iub" else "NaN" \
            if dtype.kind == "f" else 0
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    return value


def _decode_fill(value: Any, dtype: np.dtype) -> Any:
    if value == "NaN":
        return math.nan
    if value in ("Infinity", "+Infinity"):
        return math.inf
    if value == "-Infinity":
        return -math.inf
    return value


#: sharding-index sentinel for an absent inner chunk (Zarr v3 sharding spec)
_MISSING_CHUNK = (1 << 64) - 1

#: crc32c (Castagnoli) table — the sharding spec's default index
#: checksum codec; table-driven, reflected, poly 0x1EDC6F41
_CRC32C_TABLE = []


def _crc32c(data: bytes) -> int:
    if not _CRC32C_TABLE:
        for n in range(256):
            crc = n
            for _ in range(8):
                crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
            _CRC32C_TABLE.append(crc)
        assert len(_CRC32C_TABLE) == 256
    crc = 0xFFFFFFFF
    for byte in data:
        crc = _CRC32C_TABLE[(crc ^ byte) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _encode_vlen(items: "np.ndarray") -> bytes:
    """vlen-utf8 wire format (numcodecs VLenUTF8): LE uint32 item count,
    then per item LE uint32 byte length + utf-8 bytes."""
    import struct
    parts = [struct.pack("<I", len(items))]
    for item in items:
        data = ("" if item is None else str(item)).encode("utf-8")
        parts.append(struct.pack("<I", len(data)))
        parts.append(data)
    return b"".join(parts)


def _decode_vlen(payload: bytes) -> "np.ndarray":
    import struct
    (count,) = struct.unpack_from("<I", payload, 0)
    out = np.empty(count, dtype=object)
    offset = 4
    for i in range(count):
        (nbytes,) = struct.unpack_from("<I", payload, offset)
        offset += 4
        out[i] = payload[offset:offset + nbytes].decode("utf-8")
        offset += nbytes
    return out


@dataclasses.dataclass(frozen=True)
class ZarrArrayMeta:
    shape: tuple[int, ...]
    dtype: str                       # numpy dtype string (may be datetime64)
    chunk_shape: tuple[int, ...]     # inner (decode-unit) chunk shape
    fill_value: Any
    codec: str                       # zstd | gzip
    level: int
    attributes: Mapping[str, Any]
    shard_shape: tuple[int, ...] | None = None   # store-write unit, or None

    @property
    def is_vlen(self) -> bool:
        return self.dtype in ("str", "string", "vlen-utf8")

    @property
    def storage_dtype(self) -> np.dtype:
        """datetime64 is stored as int64 (v3 core has no datetime type);
        variable-length strings as object arrays."""
        if self.is_vlen:
            return np.dtype(object)
        base = np.dtype(self.dtype)
        return np.dtype("int64") if base.kind == "M" else base

    def _inner_codecs(self) -> list[dict]:
        return [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": self.codec,
             "configuration": ({"level": self.level, "checksum": False}
                               if self.codec == "zstd"
                               else {"level": self.level})},
        ]

    def to_document(self) -> dict:
        attrs = dict(self.attributes)
        if not self.is_vlen and np.dtype(self.dtype).kind == "M":
            attrs["__zcs_dtype__"] = self.dtype
        if self.is_vlen:
            # v3 "string" data type: vlen-utf8 array-to-bytes codec, then
            # a size-free compressor (gzip — zstd decode here would need
            # a streaming zstd binding this environment lacks)
            return {
                "zarr_format": ZARR_FORMAT,
                "node_type": "array",
                "shape": list(self.shape),
                "data_type": "string",
                "chunk_grid": {"name": "regular",
                               "configuration":
                                   {"chunk_shape": list(self.chunk_shape)}},
                "chunk_key_encoding": {"name": "default",
                                       "configuration": {"separator": "/"}},
                "fill_value": self.fill_value
                if isinstance(self.fill_value, str) else "",
                "codecs": [
                    {"name": "vlen-utf8", "configuration": {}},
                    {"name": "gzip",
                     "configuration": {"level": self.level}},
                ],
                "attributes": attrs,
            }
        if self.shard_shape is None:
            grid_shape, codecs = self.chunk_shape, self._inner_codecs()
        else:
            # sharding_indexed: the chunk grid advertises the SHARD shape;
            # inner chunks live in the codec configuration (v3 spec)
            grid_shape = self.shard_shape
            codecs = [{
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(self.chunk_shape),
                    "codecs": self._inner_codecs(),
                    "index_codecs": [
                        {"name": "bytes",
                         "configuration": {"endian": "little"}},
                        {"name": "crc32c"}],
                    "index_location": "end",
                },
            }]
        return {
            "zarr_format": ZARR_FORMAT,
            "node_type": "array",
            "shape": list(self.shape),
            "data_type": _CORE_DTYPES[self.storage_dtype.name],
            "chunk_grid": {"name": "regular",
                           "configuration":
                               {"chunk_shape": list(grid_shape)}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": _encode_fill(self.fill_value, self.storage_dtype),
            "codecs": codecs,
            "attributes": attrs,
        }

    @classmethod
    def from_document(cls, doc: Mapping[str, Any]) -> "ZarrArrayMeta":
        if doc.get("zarr_format") != ZARR_FORMAT \
                or doc.get("node_type") != "array":
            raise ValueError("not a Zarr v3 array document")
        attrs = dict(doc.get("attributes", {}))
        if doc["data_type"] == "string":
            codecs = doc.get("codecs", [])
            level = 5
            for entry in codecs:
                if entry.get("name") == "gzip":
                    level = entry.get("configuration", {}).get("level", 5)
            return cls(shape=tuple(doc["shape"]), dtype="str",
                       chunk_shape=tuple(
                           doc["chunk_grid"]["configuration"]["chunk_shape"]),
                       fill_value=doc.get("fill_value", ""),
                       codec="gzip", level=level, attributes=attrs)
        dtype = attrs.pop("__zcs_dtype__", doc["data_type"])
        codecs = doc.get("codecs", [])
        grid_shape = tuple(
            doc["chunk_grid"]["configuration"]["chunk_shape"])
        shard_shape: tuple[int, ...] | None = None
        chunk_shape = grid_shape
        if codecs and codecs[0].get("name") == "sharding_indexed":
            cfg = codecs[0].get("configuration", {})
            shard_shape = grid_shape
            chunk_shape = tuple(cfg["chunk_shape"])
            codecs = cfg.get("codecs", [])
        codec, level = "zstd", 3
        for entry in codecs:
            if entry.get("name") in ("zstd", "gzip"):
                codec = entry["name"]
                level = entry.get("configuration", {}).get("level", 3)
        return cls(shape=tuple(doc["shape"]), dtype=dtype,
                   chunk_shape=chunk_shape,
                   fill_value=_decode_fill(doc.get("fill_value"),
                                           np.dtype(doc["data_type"])),
                   codec=codec, level=level, attributes=attrs,
                   shard_shape=shard_shape)


def _chunk_count(shape: tuple[int, ...],
                 chunk_shape: tuple[int, ...]) -> tuple[int, ...]:
    return tuple(max(-(-s // c), 1) for s, c in zip(shape, chunk_shape))


def _encode_block(data: np.ndarray, slices: tuple[slice, ...],
                  meta: "ZarrArrayMeta", fill: Any) -> bytes:
    """Extract+pad one inner chunk and return its compressed payload."""
    block = data[slices]
    if block.shape != meta.chunk_shape:  # edge chunk → pad with fill
        padded = np.full(meta.chunk_shape, fill, dtype=meta.storage_dtype)
        padded[tuple(slice(0, s) for s in block.shape)] = block
        block = padded
    if meta.is_vlen:
        return _compress(_encode_vlen(block), meta.codec, meta.level)
    payload = np.ascontiguousarray(block).astype(
        meta.storage_dtype.newbyteorder("<"), copy=False).tobytes()
    return _compress(payload, meta.codec, meta.level)


def write_array(path: str | Path, data: np.ndarray, *,
                chunk_shape: tuple[int, ...] | None = None,
                shard_shape: tuple[int, ...] | None = None,
                fill_value: Any = None, codec: str = "zstd",
                level: int = 3,
                attributes: Mapping[str, Any] | None = None,
                fs=None) -> None:
    """Write one Zarr v3 array directory (zarr.json + c/... chunks).

    With ``shard_shape`` the array is written through the spec's
    ``sharding_indexed`` codec: each stored object is one shard holding
    many compressed inner chunks plus a trailing ``(offset, nbytes)``
    uint64-LE index — the store-write unit the reference's cloud
    profiles target (``codecs/defaults.py:133-156``).
    """
    path = str(path)
    fs = fs or task_fs(path)
    src_dtype = data.dtype
    is_vlen = src_dtype.kind in ("U", "O")
    if is_vlen:
        data = np.asarray(data, dtype=object)
        dtype_name = "str"
        codec, fill_value = "gzip", (fill_value
                                     if isinstance(fill_value, str) else "")
        shard_shape = None  # vlen arrays are never sharded (no fixed pitch)
    elif src_dtype.kind == "M":
        # normalize to microseconds, store as int64
        data = data.astype("datetime64[us]").astype("int64")
        dtype_name = "datetime64[us]"
    else:
        dtype_name = src_dtype.name
    if not is_vlen and data.dtype.name not in _CORE_DTYPES:
        raise ValueError(f"unsupported zarr dtype {data.dtype}")
    if chunk_shape is None:
        first = min(data.shape[0], 1 << 16) if data.ndim else 1
        chunk_shape = (first, *data.shape[1:]) if data.ndim else ()
    chunk_shape = tuple(chunk_shape)
    if shard_shape is not None:
        # spec: inner chunk shape must evenly divide the shard shape
        shard_shape = tuple(-(-max(s, c) // c) * c
                            for s, c in zip(shard_shape, chunk_shape))
    meta = ZarrArrayMeta(shape=tuple(data.shape), dtype=dtype_name,
                         chunk_shape=chunk_shape,
                         fill_value=fill_value, codec=codec, level=level,
                         attributes=dict(attributes or {}),
                         shard_shape=shard_shape)
    fs.write_text(f"{path}/zarr.json",
                  json.dumps(meta.to_document(), indent=1))
    fill = meta.fill_value if meta.fill_value is not None \
        else ("" if meta.is_vlen else 0)
    if shard_shape is None:
        counts = _chunk_count(meta.shape, meta.chunk_shape)
        for idx in np.ndindex(*counts):
            slices = tuple(slice(i * c, min((i + 1) * c, s))
                           for i, c, s in zip(idx, meta.chunk_shape,
                                              meta.shape))
            chunk_path = f"{path}/c/" + "/".join(map(str, idx))
            fs.write_bytes(chunk_path,
                           _encode_block(data, slices, meta, fill))
        return
    _write_sharded(fs, path, data, meta, fill)


def _write_sharded(fs, path: str, data: np.ndarray,
                   meta: ZarrArrayMeta, fill: Any) -> None:
    shard = meta.shard_shape
    per_shard = tuple(s // c for s, c in zip(shard, meta.chunk_shape))
    for sidx in np.ndindex(*_chunk_count(meta.shape, shard)):
        index = np.full((*per_shard, 2), _MISSING_CHUNK, dtype="<u8")
        payloads: list[bytes] = []
        offset = 0
        for cidx in np.ndindex(*per_shard):
            slices = tuple(
                slice(si * ss + ci * cs,
                      min(si * ss + (ci + 1) * cs, dim))
                for si, ss, ci, cs, dim in zip(sidx, shard, cidx,
                                               meta.chunk_shape, meta.shape))
            if any(sl.start >= sl.stop for sl in slices):
                continue  # inner chunk entirely past the array edge
            payload = _encode_block(data, slices, meta, fill)
            index[cidx] = (offset, len(payload))
            payloads.append(payload)
            offset += len(payload)
        shard_path = f"{path}/c/" + "/".join(map(str, sidx))
        index_bytes = index.tobytes()
        checksum = _crc32c(index_bytes).to_bytes(4, "little")
        fs.write_bytes(shard_path,
                       b"".join(payloads) + index_bytes + checksum)


def _read_or_none(fs, path: str) -> "bytes | None":
    """A chunk or shard object, or None when absent (the fill value)."""
    try:
        return fs.read_bytes(path)
    except FileNotFoundError:
        return None


def read_array(path: str | Path, fs=None) -> np.ndarray:
    """Read one Zarr v3 array directory into a numpy array."""
    path = str(path)
    fs = fs or task_fs(path)
    meta = ZarrArrayMeta.from_document(
        json.loads(fs.read_text(f"{path}/zarr.json")))
    storage = meta.storage_dtype
    fill = meta.fill_value if meta.fill_value is not None \
        else ("" if meta.is_vlen else 0)
    out = np.full(meta.shape, fill, dtype=storage)
    chunk_nbytes = 0 if meta.is_vlen \
        else int(np.prod(meta.chunk_shape)) * storage.itemsize

    def place(raw_payload: bytes, slices: tuple[slice, ...]) -> None:
        raw = _decompress(raw_payload, meta.codec, chunk_nbytes)
        if meta.is_vlen:
            block = _decode_vlen(raw).reshape(meta.chunk_shape)
        else:
            block = np.frombuffer(raw, dtype=storage.newbyteorder("<")) \
                .reshape(meta.chunk_shape).astype(storage, copy=False)
        out[slices] = block[tuple(slice(0, sl.stop - sl.start)
                                  for sl in slices)]

    if meta.shard_shape is None:
        for idx in np.ndindex(*_chunk_count(meta.shape, meta.chunk_shape)):
            chunk_path = f"{path}/c/" + "/".join(map(str, idx))
            payload = _read_or_none(fs, chunk_path)
            if payload is None:
                continue  # missing chunk = fill value (spec)
            slices = tuple(slice(i * c, min((i + 1) * c, s))
                           for i, c, s in zip(idx, meta.chunk_shape,
                                              meta.shape))
            place(payload, slices)
    else:
        shard = meta.shard_shape
        per_shard = tuple(s // c for s, c in zip(shard, meta.chunk_shape))
        index_nbytes = int(np.prod(per_shard)) * 16
        tail_nbytes = index_nbytes + 4  # + crc32c of the index
        for sidx in np.ndindex(*_chunk_count(meta.shape, shard)):
            shard_path = f"{path}/c/" + "/".join(map(str, sidx))
            raw = _read_or_none(fs, shard_path)
            if raw is None:
                continue  # missing shard = fill value
            if len(raw) < tail_nbytes:
                raise ValueError(f"corrupt shard {shard_path}: shorter "
                                 f"than its {tail_nbytes}-byte index")
            index_bytes = raw[-tail_nbytes:-4]
            if _crc32c(index_bytes) != int.from_bytes(raw[-4:], "little"):
                raise ValueError(
                    f"corrupt shard {shard_path}: index crc32c mismatch")
            index = np.frombuffer(index_bytes, dtype="<u8") \
                .reshape(*per_shard, 2)
            for cidx in np.ndindex(*per_shard):
                off, nbytes = int(index[cidx][0]), int(index[cidx][1])
                if off == _MISSING_CHUNK:
                    continue
                if off + nbytes > len(raw) - tail_nbytes:
                    raise ValueError(
                        f"corrupt shard {shard_path}: chunk range "
                        f"[{off}, {off + nbytes}) exceeds payload")
                slices = tuple(
                    slice(si * ss + ci * cs,
                          min(si * ss + (ci + 1) * cs, dim))
                    for si, ss, ci, cs, dim in zip(sidx, shard, cidx,
                                                   meta.chunk_shape,
                                                   meta.shape))
                place(raw[off:off + nbytes], slices)
    if np.dtype(meta.dtype).kind == "M":
        return out.view(meta.dtype)
    return out


def read_array_slice(path: str | Path, start: int, stop: int,
                     fs=None) -> np.ndarray:
    """Read rows ``[start, stop)`` along axis 0, touching only the chunks
    (and, inside a shard, only the inner chunks) that intersect the range.

    This is the random-read-locality payoff of ``sharding_indexed``: a
    row-range lookup against a 512 MiB shard decodes a handful of inner
    chunks, not the whole shard — the access pattern the secondary index
    (``indexing.py``) produces.  For sharded arrays only the needed byte
    ranges of the shard file are read (index tail + selected chunks), the
    object-store ``Range`` GET pattern.
    """
    path = str(path)
    fs = fs or task_fs(path)
    meta = ZarrArrayMeta.from_document(
        json.loads(fs.read_text(f"{path}/zarr.json")))
    storage = meta.storage_dtype
    fill = meta.fill_value if meta.fill_value is not None \
        else ("" if meta.is_vlen else 0)
    start = max(0, start)
    stop = min(stop, meta.shape[0]) if meta.shape else 0
    n = max(0, stop - start)
    out = np.full((n, *meta.shape[1:]), fill, dtype=storage)
    if n == 0:
        return out.view(meta.dtype) if np.dtype(meta.dtype).kind == "M" \
            else out
    chunk_nbytes = 0 if meta.is_vlen \
        else int(np.prod(meta.chunk_shape)) * storage.itemsize
    c0 = meta.chunk_shape[0]
    tail_counts = _chunk_count(meta.shape[1:], meta.chunk_shape[1:]) \
        if len(meta.shape) > 1 else ()

    def place(payload: bytes, row_chunk: int, tail_idx: tuple[int, ...]) \
            -> None:
        raw = _decompress(payload, meta.codec, chunk_nbytes)
        if meta.is_vlen:
            block = _decode_vlen(raw).reshape(meta.chunk_shape)
        else:
            block = np.frombuffer(raw, dtype=storage.newbyteorder("<")) \
                .reshape(meta.chunk_shape).astype(storage, copy=False)
        lo = max(start, row_chunk * c0)
        hi = min(stop, (row_chunk + 1) * c0, meta.shape[0])
        tail_slices = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(tail_idx, meta.chunk_shape[1:],
                               meta.shape[1:]))
        out[(slice(lo - start, hi - start),
             *tail_slices)] = block[(slice(lo - row_chunk * c0,
                                           hi - row_chunk * c0),
                                     *(slice(0, sl.stop - sl.start)
                                       for sl in tail_slices))]

    first_chunk, last_chunk = start // c0, (stop - 1) // c0
    if meta.shard_shape is None:
        for row_chunk in range(first_chunk, last_chunk + 1):
            for tail_idx in np.ndindex(*tail_counts) if tail_counts \
                    else [()]:
                chunk_path = f"{path}/c/" + "/".join(
                    map(str, (row_chunk, *tail_idx)))
                payload = _read_or_none(fs, chunk_path)
                if payload is not None:
                    place(payload, row_chunk, tail_idx)
        if np.dtype(meta.dtype).kind == "M":
            return out.view(meta.dtype)
        return out
    shard = meta.shard_shape
    per_shard = tuple(s // c for s, c in zip(shard, meta.chunk_shape))
    index_nbytes = int(np.prod(per_shard)) * 16
    tail_nbytes = index_nbytes + 4
    s0 = shard[0]
    shard_tail_counts = _chunk_count(meta.shape[1:], shard[1:]) \
        if len(meta.shape) > 1 else ()
    for shard_row in range(start // s0, (stop - 1) // s0 + 1):
        for shard_tail in np.ndindex(*shard_tail_counts) \
                if shard_tail_counts else [()]:
            shard_path = f"{path}/c/" + "/".join(
                map(str, (shard_row, *shard_tail)))
            # ranged reads: index tail first, then only the needed inner
            # chunks — on S3 these are Range GETs, never a full object
            try:
                tail = fs.read_tail(shard_path, tail_nbytes)
            except FileNotFoundError:
                continue  # missing shard = fill value
            if len(tail) < tail_nbytes:
                raise ValueError(f"corrupt shard {shard_path}: shorter "
                                 f"than its {tail_nbytes}-byte index")
            if _crc32c(tail[:-4]) != int.from_bytes(tail[-4:],
                                                    "little"):
                raise ValueError(f"corrupt shard {shard_path}: "
                                 f"index crc32c mismatch")
            index = np.frombuffer(tail[:-4], dtype="<u8") \
                .reshape(*per_shard, 2)
            for cidx in np.ndindex(*per_shard):
                row_chunk = shard_row * per_shard[0] + cidx[0]
                if row_chunk < first_chunk or row_chunk > last_chunk:
                    continue
                off, nbytes = int(index[cidx][0]), int(index[cidx][1])
                if off == _MISSING_CHUNK:
                    continue
                tail_idx = tuple(
                    st * ps + ci
                    for st, ps, ci in zip(shard_tail, per_shard[1:],
                                          cidx[1:]))
                place(fs.read_at(shard_path, off, nbytes),
                      row_chunk, tail_idx)
    if np.dtype(meta.dtype).kind == "M":
        return out.view(meta.dtype)
    return out


def write_group(path: str | Path,
                attributes: Mapping[str, Any] | None = None,
                fs=None) -> None:
    path = str(path)
    (fs or task_fs(path)).write_text(f"{path}/zarr.json", json.dumps({
        "zarr_format": ZARR_FORMAT, "node_type": "group",
        "attributes": dict(attributes or {})}, indent=1))


def read_group_meta(path: str | Path, fs=None) -> dict:
    path = str(path)
    doc = json.loads((fs or task_fs(path)).read_text(f"{path}/zarr.json"))
    if doc.get("node_type") != "group":
        raise ValueError(f"{path} is not a Zarr v3 group")
    return doc
