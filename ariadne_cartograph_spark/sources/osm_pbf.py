"""OSM PBF source (SURVEY.md §2.1 S6 — the planet-scale ingest path).

The reference imports OSM extracts with osm2pgsql
(`/root/reference/README.md:17`), which reads both XML and PBF; planet
files are distributed as PBF. Unlike XML, PBF is **splittable**: the
file is a sequence of independently-compressed ~8k-element blocks
(`BlobHeader`+`Blob` framing), so ONE planet file parallelizes across
executors at block granularity — this module is the genuine 100 TB
answer to the "OSM XML is not splittable, pre-split it" caveat on
`sources/osm.read_osm_elements`.

Format: the public OpenStreetMap PBF wire format
(https://wiki.openstreetmap.org/wiki/PBF_Format; fileformat.proto /
osmformat.proto). Decoded here with a ~60-line pure-Python protobuf
wire reader — no protobuf library in the environment, and the format
uses only varint / length-delimited fields.

Execution model (two Arrow stages, zero whole-file loads):
1. **Index scan** — one task per file seeks through the BlobHeader
   chain recording (offset, size) of each OSMData blob: O(#blocks)
   seeks, no decompression, no payload reads.
2. **Block decode** — the index repartitions by hash so blocks of one
   file spread across ALL tasks; each task seeks to its blobs, inflates
   and decodes them independently (delta/zigzag/string-table decode in
   numpy-friendly Python, bounded by block size ≈ 8k elements).
Rows land in the same unified element schema as the XML reader
(`osm.typed_elements`), so every downstream consumer is
format-agnostic.

The module also carries a single-node encoder (`write_pbf`) used to
build round-trip fixtures and export extracts — a test/export utility,
not a distributed sink.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .osm import _PARSED_COLUMNS, _PARSED_SCHEMA, _open_uri, typed_elements

# ---------------------------------------------------------------------------
# protobuf wire format (decode): varints, zigzag, field iterator
# ---------------------------------------------------------------------------


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(buf: bytes) -> Iterator[tuple[int, int, int | bytes]]:
    """Yield (field_number, wire_type, value): varints as int,
    length-delimited as bytes; fixed32/64 skipped (unused by OSM PBF)."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _uvarint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = _uvarint(buf, pos)
            yield field, wt, v
        elif wt == 2:
            ln, pos = _uvarint(buf, pos)
            yield field, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:  # pragma: no cover - malformed input
            raise ValueError(f"unsupported wire type {wt}")


def _packed(buf: bytes, zigzag: bool = False, delta: bool = False) -> list[int]:
    out = []
    pos = 0
    acc = 0
    n = len(buf)
    while pos < n:
        v, pos = _uvarint(buf, pos)
        if zigzag:
            v = _unzigzag(v)
        if delta:
            acc += v
            out.append(acc)
        else:
            out.append(v)
    return out


# ---------------------------------------------------------------------------
# Blob framing (fileformat.proto)
# ---------------------------------------------------------------------------


def scan_blob_index(path: str) -> list[tuple[str, int, int]]:
    """Seek through a PBF file's BlobHeader chain → [(blob type,
    payload offset, payload size)]. Reads headers only — O(#blocks)
    tiny reads regardless of file size."""
    out = []
    with open(path, "rb") as f:
        while True:
            lenb = f.read(4)
            if len(lenb) < 4:
                break
            (hlen,) = struct.unpack(">I", lenb)
            header = f.read(hlen)
            btype, datasize = "", 0
            for field, _, v in _fields(header):
                if field == 1:
                    btype = v.decode("utf-8")
                elif field == 3:
                    datasize = v
            out.append((btype, f.tell(), datasize))
            f.seek(datasize, 1)
    return out


def _blob_payload(blob: bytes) -> bytes:
    """Blob message → uncompressed block bytes (raw or zlib)."""
    raw = zdata = None
    for field, _, v in _fields(blob):
        if field == 1:
            raw = v
        elif field == 3:
            zdata = v
    if raw is not None:
        return bytes(raw)
    if zdata is not None:
        return zlib.decompress(zdata)
    raise ValueError("Blob carries no raw/zlib payload (unsupported codec)")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode (osmformat.proto)
# ---------------------------------------------------------------------------


def _ts_iso(epoch_ms: int | None) -> str | None:
    if not epoch_ms:
        return None
    from datetime import datetime, timezone

    return datetime.fromtimestamp(epoch_ms / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def _tags_json(keys: list[int], vals: list[int], st: list[str]) -> str | None:
    import json

    if not keys:
        return None
    return json.dumps(
        {st[k]: st[v] for k, v in zip(keys, vals)}, sort_keys=True
    )


def _info_dict(buf: bytes, st: list[str], date_gran: int) -> dict:
    version = ts = changeset = uid = None
    user = None
    visible = None
    for field, _, v in _fields(buf):
        if field == 1:
            version = v
        elif field == 2:
            ts = _ts_iso(v * date_gran)
        elif field == 3:
            changeset = v
        elif field == 4:
            uid = v
        elif field == 5:
            user = st[v] if v else None
        elif field == 6:
            visible = "true" if v else "false"
    return {
        "version": version, "ts": ts, "changeset": changeset,
        "uid": uid, "user": user, "visible": visible,
    }


_EMPTY_INFO = {
    "version": None, "ts": None, "changeset": None,
    "uid": None, "user": None, "visible": None,
}


def decode_primitive_block(block: bytes) -> Iterator[dict]:
    """One PrimitiveBlock → unified element row dicts (same shape as
    the XML parser's `_element_row`)."""
    st: list[str] = []
    groups: list[bytes] = []
    gran, date_gran = 100, 1000
    lat_off = lon_off = 0
    for field, _, v in _fields(block):
        if field == 1:  # StringTable
            st = [b.decode("utf-8") for f2, _, b in _fields(v) if f2 == 1]
        elif field == 2:
            groups.append(v)
        elif field == 17:
            gran = v
        elif field == 18:
            date_gran = v
        elif field == 19:
            lat_off = v
        elif field == 20:
            lon_off = v

    def e7(nano: int) -> int:
        return round(nano / 100)

    base = {
        "lat_e7": None, "lon_e7": None,
        "tags_json": None, "node_refs": None, "members_json": None,
    }
    for g in groups:
        for field, _, v in _fields(g):
            if field == 2:  # DenseNodes
                ids = lats = lons = kv = None
                dinfo = None
                for f2, _, b in _fields(v):
                    if f2 == 1:
                        ids = _packed(b, zigzag=True, delta=True)
                    elif f2 == 5:
                        dinfo = b
                    elif f2 == 8:
                        lats = _packed(b, zigzag=True, delta=True)
                    elif f2 == 9:
                        lons = _packed(b, zigzag=True, delta=True)
                    elif f2 == 10:
                        kv = _packed(b)
                di: dict[str, list] = {}
                if dinfo is not None:
                    for f2, _, b in _fields(dinfo):
                        if f2 == 1:
                            di["version"] = _packed(b)
                        elif f2 == 2:
                            di["ts"] = _packed(b, zigzag=True, delta=True)
                        elif f2 == 3:
                            di["changeset"] = _packed(b, zigzag=True, delta=True)
                        elif f2 == 4:
                            di["uid"] = _packed(b, zigzag=True, delta=True)
                        elif f2 == 5:
                            di["user_sid"] = _packed(b, zigzag=True, delta=True)
                        elif f2 == 6:
                            di["visible"] = _packed(b)
                kv = kv or []
                kpos = 0
                import json

                for i, nid in enumerate(ids or []):
                    tags = {}
                    while kpos < len(kv) and kv[kpos] != 0:
                        tags[st[kv[kpos]]] = st[kv[kpos + 1]]
                        kpos += 2
                    kpos += 1  # the 0 terminator
                    row = {
                        "kind": "node", "id": nid,
                        "lat_e7": e7(lat_off + gran * lats[i]),
                        "lon_e7": e7(lon_off + gran * lons[i]),
                        "tags_json": json.dumps(tags, sort_keys=True) if tags else None,
                        "node_refs": None, "members_json": None,
                        # 0 sentinels mark absent audit data (real OSM
                        # versions/changesets/uids start at 1)
                        "version": di["version"][i] or None if "version" in di else None,
                        "ts": _ts_iso(di["ts"][i] * date_gran) if "ts" in di else None,
                        "changeset": di["changeset"][i] or None if "changeset" in di else None,
                        "uid": di["uid"][i] or None if "uid" in di else None,
                        "user": (st[di["user_sid"][i]] or None) if "user_sid" in di else None,
                        "visible": ("true" if di["visible"][i] else "false") if "visible" in di else None,
                    }
                    yield row
            elif field in (1, 3, 4):  # Node / Way / Relation
                kind = {1: "node", 3: "way", 4: "relation"}[field]
                eid = None
                keys: list[int] = []
                vals: list[int] = []
                info = dict(_EMPTY_INFO)
                lat = lon = None
                refs: list[int] = []
                roles: list[int] = []
                memids: list[int] = []
                mtypes: list[int] = []
                for f2, wt, b in _fields(v):
                    if f2 == 1:
                        eid = _unzigzag(b) if field == 1 else b
                    elif f2 == 2:
                        keys = _packed(b)
                    elif f2 == 3:
                        vals = _packed(b)
                    elif f2 == 4:
                        info = _info_dict(b, st, date_gran)
                    elif f2 == 8 and field == 1:
                        lat = _unzigzag(b)
                    elif f2 == 9 and field == 1:
                        lon = _unzigzag(b)
                    elif f2 == 8 and field == 3:
                        refs = _packed(b, zigzag=True, delta=True)
                    elif f2 == 8 and field == 4:
                        roles = _packed(b)
                    elif f2 == 9 and field == 4:
                        memids = _packed(b, zigzag=True, delta=True)
                    elif f2 == 10 and field == 4:
                        mtypes = _packed(b)
                row = dict(base)
                row.update(info)
                row["kind"] = kind
                row["id"] = eid
                row["tags_json"] = _tags_json(keys, vals, st)
                if field == 1:
                    row["lat_e7"] = e7(lat_off + gran * lat)
                    row["lon_e7"] = e7(lon_off + gran * lon)
                elif field == 3:
                    row["node_refs"] = refs
                else:
                    import json

                    tname = {0: "node", 1: "way", 2: "relation"}
                    row["members_json"] = json.dumps(
                        [
                            {"member_type": tname[t], "ref": m, "role": st[r]}
                            for r, m, t in zip(roles, memids, mtypes)
                        ]
                    )
                yield row


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------


def read_osm_pbf(
    spark: SparkSession, path: str, mode: str = "failfast"
) -> DataFrame:
    """PBF file(s) at ``path`` (glob ok) → the unified typed element
    frame (same schema/semantics as :func:`osm.read_osm_elements`).
    Splittable: stage 1 indexes blob offsets (header seeks only),
    stage 2 hash-repartitions the index so ONE file's blocks decode
    across all tasks.

    ``mode="permissive"`` quarantines instead of failing, at the
    format's natural corruption unit — the independently-compressed
    BLOB: a blob that fails to inflate/decode yields one corrupt-marker
    row (path#offset, error; read via :func:`osm.corrupt_files`), every
    other blob of the file still decodes. A file whose header chain
    cannot even be indexed quarantines whole. Default ``failfast``
    propagates (fixture correctness)."""
    from .osm import _corrupt_row

    if mode not in ("failfast", "permissive"):
        raise ValueError(f"mode must be failfast|permissive, got {mode!r}")
    files = spark.read.format("binaryFile").load(path).select("path")

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for uri in pdf["path"]:
                try:
                    with _open_uri(uri) as f:
                        local = f.name
                    for btype, off, size in scan_blob_index(local):
                        if btype == "OSMData":
                            rows.append(
                                {"path": local, "offset": off, "size": size}
                            )
                except Exception as exc:
                    if mode != "permissive":
                        raise
                    # offset -1 = unindexable file: decode stage emits
                    # the marker (keeps this stage's 3-column schema)
                    rows.append(
                        {
                            "path": f"{uri}\x00{type(exc).__name__}: {exc}"[:900],
                            "offset": -1,
                            "size": 0,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    idx = files.mapInPandas(index, "path string, offset long, size long")
    idx = idx.repartition(F.col("path"), F.col("offset"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_v, grp in pdf.groupby("path"):
                if "\x00" in str(path_v):  # unindexable-file marker
                    p, err = str(path_v).split("\x00", 1)
                    yield pd.DataFrame(
                        [_corrupt_row(p, RuntimeError(err))],
                        columns=_PARSED_COLUMNS,
                    )
                    continue
                with open(path_v, "rb") as f:
                    for _, r in grp.iterrows():
                        try:
                            f.seek(int(r["offset"]))
                            block = _blob_payload(f.read(int(r["size"])))
                            rows = list(decode_primitive_block(block))
                        except Exception as exc:
                            if mode != "permissive":
                                raise
                            rows = [
                                _corrupt_row(
                                    f"{path_v}#{int(r['offset'])}", exc
                                )
                            ]
                        if rows:
                            yield pd.DataFrame(rows, columns=_PARSED_COLUMNS)

    return typed_elements(idx.mapInPandas(decode, schema=_PARSED_SCHEMA))


def write_pbf_sharded(
    elements: DataFrame, out_dir: str, block_elements: int = 8000
) -> DataFrame:
    """Distributed PBF export sink: each partition encodes its elements
    into one self-contained ``part-*.osm.pbf`` (PBF is block-framed, so
    a directory of parts IS a valid sharded extract —
    :func:`read_osm_pbf` reads it back with a glob). Input is the typed
    unified element frame; rows sort (kind, id) within partitions for
    delta-coding efficiency, and each Arrow batch becomes one or more
    blocks streamed straight to the open part file — executor memory is
    O(batch), mirroring the reader. Returns a manifest DataFrame
    (path, n_elements); the write happens on `.collect()` /
    materialization of the manifest (Spark sink idiom: an action drives
    the job). Paths must be on shared/mounted storage at scale."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    src = elements.select(
        "kind",
        "id",
        F.round(F.col("lat") * 1e7).cast("long").alias("lat_e7"),
        F.round(F.col("lon") * 1e7).cast("long").alias("lon_e7"),
        "version",
        "changeset",
        # epoch seconds: session-timezone-independent serialization of
        # the instant (date_format would render in session tz)
        F.unix_timestamp("ts").alias("ts_epoch"),
        "uid",
        "user",
        F.when(F.col("visible"), "true")
        .when(~F.col("visible"), "false")
        .alias("visible"),
        F.to_json("tags").alias("tags_json"),
        "node_refs",
        F.to_json("members").alias("members_json"),
    ).sortWithinPartitions("kind", "id")

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.osm.pbf")
        n = 0
        f = None
        for pdf in batches:
            if f is None:
                f = open(path, "wb")
                f.write(_header_frame())
            rows = []
            for r in pdf.to_dict("records"):
                rows.append(
                    {
                        "kind": r["kind"],
                        "id": int(r["id"]),
                        "lat_e7": None if pd.isna(r["lat_e7"]) else int(r["lat_e7"]),
                        "lon_e7": None if pd.isna(r["lon_e7"]) else int(r["lon_e7"]),
                        "version": None if pd.isna(r["version"]) else int(r["version"]),
                        "changeset": None if pd.isna(r["changeset"]) else int(r["changeset"]),
                        "ts": _ts_iso(
                            None if pd.isna(r["ts_epoch"]) else int(r["ts_epoch"]) * 1000
                        ),
                        "uid": None if pd.isna(r["uid"]) else int(r["uid"]),
                        "user": r["user"] if isinstance(r["user"], str) else None,
                        "visible": r["visible"] if isinstance(r["visible"], str) else None,
                        "tags_json": r["tags_json"] if isinstance(r["tags_json"], str) else None,
                        "node_refs": None
                        if r["node_refs"] is None
                        else [int(x) for x in r["node_refs"]],
                        "members_json": r["members_json"]
                        if isinstance(r["members_json"], str)
                        else None,
                    }
                )
            for i in range(0, len(rows), block_elements):
                f.write(_data_frame(rows[i : i + block_elements]))
            n += len(rows)
        if f is not None:
            f.close()
            yield pd.DataFrame([{"path": path, "n_elements": n}])

    return src.mapInPandas(enc, "path string, n_elements long")


def ensure_pbf_fixture(xml_path: str) -> str:
    """Deterministically transcode an OSM XML file to PBF once per
    process and content (a work directory keyed by the bytes' sha256) —
    used by the PBF parity entry and tests so the read path exercises a
    real multi-block file without shipping a second fixture."""
    import hashlib
    import io
    import os

    from ..session import work_dir
    from .osm import _iter_osm_rows

    with open(xml_path, "rb") as f:
        data = f.read()

    def build(d: str) -> None:
        rows = list(_iter_osm_rows(io.BytesIO(data)))
        write_pbf(rows, os.path.join(d, "fixture.osm.pbf"), block_elements=1000)

    key = ("pbf", hashlib.sha256(data).hexdigest())
    return os.path.join(work_dir(key, build), "fixture.osm.pbf")


# ---------------------------------------------------------------------------
# Encoder (fixture generation / single-node export — not a sink)
# ---------------------------------------------------------------------------


def _enc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _enc_field(field: int, wt: int, payload: bytes | int) -> bytes:
    key = _enc_uvarint(field << 3 | wt)
    if wt == 0:
        return key + _enc_uvarint(payload)
    return key + _enc_uvarint(len(payload)) + payload


def _enc_packed(field: int, vals: list[int], zigzag: bool = False, delta: bool = False) -> bytes:
    if not vals:
        return b""
    out = bytearray()
    prev = 0
    for v in vals:
        x = v - prev if delta else v
        if delta:
            prev = v
        out += _enc_uvarint(_zigzag(x) if zigzag else x)
    return _enc_field(field, 2, bytes(out))


def _epoch_ms(ts: str | None) -> int:
    if not ts:
        return 0
    from datetime import datetime, timezone

    return int(
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    )


def _frame(btype: str, payload: bytes) -> bytes:
    comp = zlib.compress(payload)
    blob = _enc_field(2, 0, len(payload)) + _enc_field(3, 2, comp)
    bh = _enc_field(1, 2, btype.encode()) + _enc_field(3, 0, len(blob))
    return struct.pack(">I", len(bh)) + bh + blob


def _header_frame() -> bytes:
    hb = _enc_field(4, 2, b"OsmSchema-V0.6") + _enc_field(4, 2, b"DenseNodes")
    return _frame("OSMHeader", hb)


def _data_frame(chunk: list[dict]) -> bytes:
    return _frame("OSMData", _block_bytes(chunk))


def _block_bytes(chunk: list[dict]) -> bytes:
    import json

    strings: dict[str, int] = {"": 0}

    def sid(s: str | None) -> int:
        s = s or ""
        if s not in strings:
            strings[s] = len(strings)
        return strings[s]

    groups = []
    nodes = [r for r in chunk if r["kind"] == "node"]
    if nodes:
        kv: list[int] = []
        for r in nodes:
            for k, v in (json.loads(r["tags_json"]) if r["tags_json"] else {}).items():
                kv += [sid(k), sid(v)]
            kv.append(0)
        dinfo = (
            _enc_packed(1, [r["version"] or 0 for r in nodes])
            + _enc_packed(2, [_epoch_ms(r["ts"]) // 1000 for r in nodes], zigzag=True, delta=True)
            + _enc_packed(3, [r["changeset"] or 0 for r in nodes], zigzag=True, delta=True)
            + _enc_packed(4, [r["uid"] or 0 for r in nodes], zigzag=True, delta=True)
            + _enc_packed(5, [sid(r["user"]) for r in nodes], zigzag=True, delta=True)
            + _enc_packed(6, [1 if r["visible"] != "false" else 0 for r in nodes])
        )
        dense = (
            _enc_packed(1, [r["id"] for r in nodes], zigzag=True, delta=True)
            + _enc_field(5, 2, dinfo)
            # stored in granularity units (default 100 nano = 1e-7
            # deg) — exactly the engine's lat_e7/lon_e7 integers
            + _enc_packed(8, [r["lat_e7"] for r in nodes], zigzag=True, delta=True)
            + _enc_packed(9, [r["lon_e7"] for r in nodes], zigzag=True, delta=True)
            + _enc_packed(10, kv)
        )
        groups.append(_enc_field(2, 2, dense))

    def info_bytes(r: dict) -> bytes:
        out = b""
        if r["version"]:
            out += _enc_field(1, 0, r["version"])
        if r["ts"]:
            out += _enc_field(2, 0, _epoch_ms(r["ts"]) // 1000)
        if r["changeset"]:
            out += _enc_field(3, 0, r["changeset"])
        if r["uid"]:
            out += _enc_field(4, 0, r["uid"])
        if r["user"]:
            out += _enc_field(5, 0, sid(r["user"]))
        if r["visible"] is not None:
            out += _enc_field(6, 0, 1 if r["visible"] == "true" else 0)
        return out

    def tag_fields(r: dict) -> bytes:
        tags = json.loads(r["tags_json"]) if r["tags_json"] else {}
        return _enc_packed(2, [sid(k) for k in tags]) + _enc_packed(
            3, [sid(v) for v in tags.values()]
        )

    ways = [r for r in chunk if r["kind"] == "way"]
    if ways:
        wb = b"".join(
            _enc_field(
                3, 2,
                _enc_field(1, 0, r["id"])
                + tag_fields(r)
                + _enc_field(4, 2, info_bytes(r))
                + _enc_packed(8, r["node_refs"] or [], zigzag=True, delta=True),
            )
            for r in ways
        )
        groups.append(wb)
    rels = [r for r in chunk if r["kind"] == "relation"]
    if rels:
        tcode = {"node": 0, "way": 1, "relation": 2}
        parts = []
        for r in rels:
            members = json.loads(r["members_json"]) if r["members_json"] else []
            parts.append(
                _enc_field(
                    4, 2,
                    _enc_field(1, 0, r["id"])
                    + tag_fields(r)
                    + _enc_field(4, 2, info_bytes(r))
                    + _enc_packed(8, [sid(m["role"]) for m in members])
                    + _enc_packed(9, [m["ref"] for m in members], zigzag=True, delta=True)
                    + _enc_packed(10, [tcode[m["member_type"]] for m in members]),
                )
            )
        groups.append(b"".join(parts))
    # each `groups` element is the CONTENT of one PrimitiveGroup
    # (dense nodes framed as its field 2; way/relation messages as
    # repeated fields 3/4); frame each as block field 2. String
    # table first, in sid order (index 0 = "").
    st = b"".join(
        _enc_field(1, 2, s.encode("utf-8"))
        for s, _ in sorted(strings.items(), key=lambda t: t[1])
    )
    block = _enc_field(1, 2, st)
    for g in groups:
        block += _enc_field(2, 2, g)
    return block


def write_pbf(rows: list[dict], path: str, block_elements: int = 8000) -> None:
    """Encode unified element row dicts (the `_element_row` shape, e.g.
    from `osm._iter_osm_rows`) into a spec-conforming PBF: dense nodes,
    delta/zigzag coding, per-block string tables, zlib blobs. Single-
    node utility for fixtures; :func:`write_pbf_sharded` is the
    distributed export."""
    with open(path, "wb") as f:
        f.write(_header_frame())
        for i in range(0, len(rows), block_elements):
            f.write(_data_frame(rows[i : i + block_elements]))
