"""EXIF (TIFF IFD) metadata probe + GPS scrub — pure byte math.

The image-PII half of the corpus story: camera JPEGs carry an APP1
"Exif" segment whose TIFF structure embeds GPS coordinates, device
identity, and timestamps. A training-data pipeline needs to (a) READ
that metadata at corpus scale (orientation for correct decode,
timestamps for dedup/provenance) and (b) REMOVE the location PII
before the bytes ship — the image twin of ``textstats.pii_redact``.

Everything here is ``struct`` over the published TIFF 6.0 / EXIF 2.x
layout — byte-order marker (II/MM), magic 42, 12-byte IFD entries of
(tag, type, count, value-or-offset) — no imaging library.

:func:`probe_exif` walks IFD0 (+ the GPS sub-IFD pointer) of EVERY
APP1 Exif segment and returns merged orientation / datetime / make /
model / GPS presence + coordinates. :func:`scrub_gps` REBUILDS one
APP1 payload with a whitelist of benign IFD0 entries (orientation,
datetime, make, model) and DROPS every other APP1 (second Exif, XMP)
and APP13 (IPTC) segment, so location PII can't ride out the scrub
in a sibling segment — rebuilding is the only honest scrub:
surgically unlinking the GPS pointer would leave the coordinate
rationals in the file for anyone reading raw bytes. The compressed
image stream is untouched, so pixels decode bit-identically.

:func:`build_exif_app1` hand-composes test vectors (the container
twin of ``build_mp3_frames`` / ``build_minimal_mp4``).
"""

from __future__ import annotations

import struct

_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_ORIENTATION = 0x0112
_TAG_DATETIME = 0x0132
_TAG_GPS_IFD = 0x8825
_GPS_LATREF, _GPS_LAT = 0x0001, 0x0002
_GPS_LONREF, _GPS_LON = 0x0003, 0x0004

_EXIF_HEADER = b"Exif\x00\x00"


def _iter_jpeg_segments(payload: bytes):
    """Yield (marker, start, length_incl_header) for each JPEG segment
    up to SOS (after which entropy-coded data follows). ``start`` is
    the position of the 0xFF marker prefix; spec-valid 0xFF fill bytes
    between segments are skipped (mirroring ``jpeg.decode_jpeg``), so
    padded camera files don't become poison rows (ADVICE r7)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte — the next 0xFF is the prefix
            pos += 1
            continue
        if marker == 0xDA:  # SOS — stop walking
            return
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        yield marker, pos, 2 + seg_len
        pos += 2 + seg_len


def _is_app1_exif(payload: bytes, marker: int, start: int) -> bool:
    return marker == 0xE1 and payload[start + 4 : start + 10] == _EXIF_HEADER


def _app1_exif_segments(payload: bytes) -> list[tuple[int, int]]:
    """(start, length) of EVERY APP1 Exif segment, in file order.
    Spec-valid files carry one, but real camera/editor output can
    carry several (ADVICE r7: GPS hiding in a second APP1 must not
    survive a scrub or dodge the probe)."""
    return [
        (start, length)
        for marker, start, length in _iter_jpeg_segments(payload)
        if _is_app1_exif(payload, marker, start)
    ]


def _read_ifd(tiff: bytes, off: int, end: str) -> dict[int, tuple]:
    """tag → (type, count, raw 4 value bytes) for one IFD."""
    (n,) = struct.unpack_from(end + "H", tiff, off)
    out = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(end + "HHI", tiff, e)
        out[tag] = (typ, cnt, tiff[e + 8 : e + 12])
    return out


def _entry_bytes(tiff: bytes, end: str, typ: int, cnt: int, val: bytes) -> bytes:
    size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 10: 8}.get(typ, 1) * cnt
    if size <= 4:
        return val[:size]
    (off,) = struct.unpack(end + "I", val)
    return tiff[off : off + size]


def _ascii(tiff, end, typ, cnt, val) -> str | None:
    if typ != 2:
        return None
    raw = _entry_bytes(tiff, end, typ, cnt, val)
    return raw.split(b"\x00")[0].decode("ascii", "replace")


def _rationals(tiff, end, typ, cnt, val):
    raw = _entry_bytes(tiff, end, typ, cnt, val)
    out = []
    for i in range(cnt):
        num, den = struct.unpack_from(end + "II", raw, 8 * i)
        out.append((num, den))
    return out


def _probe_tiff(tiff: bytes) -> dict:
    """Parse ONE TIFF buffer (the body of one APP1 Exif segment)."""
    out = {
        "has_exif": True,
        "orientation": None,
        "datetime": None,
        "make": None,
        "model": None,
        "has_gps": False,
        "gps_lat_udeg": None,
        "gps_lon_udeg": None,
    }
    if tiff[:2] not in (b"II", b"MM"):
        raise ValueError("bad TIFF byte-order marker in EXIF")
    end = "<" if tiff[:2] == b"II" else ">"
    magic, ifd0_off = struct.unpack_from(end + "HI", tiff, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic in EXIF")
    ifd0 = _read_ifd(tiff, ifd0_off, end)
    if _TAG_ORIENTATION in ifd0:
        typ, cnt, val = ifd0[_TAG_ORIENTATION]
        out["orientation"] = struct.unpack(end + "H", val[:2])[0]
    if _TAG_DATETIME in ifd0:
        out["datetime"] = _ascii(tiff, end, *ifd0[_TAG_DATETIME])
    if _TAG_MAKE in ifd0:
        out["make"] = _ascii(tiff, end, *ifd0[_TAG_MAKE])
    if _TAG_MODEL in ifd0:
        out["model"] = _ascii(tiff, end, *ifd0[_TAG_MODEL])
    if _TAG_GPS_IFD in ifd0:
        typ, cnt, val = ifd0[_TAG_GPS_IFD]
        (gps_off,) = struct.unpack(end + "I", val)
        gps = _read_ifd(tiff, gps_off, end)
        out["has_gps"] = True
        try:
            if _GPS_LAT in gps and _GPS_LATREF in gps:
                out["gps_lat_udeg"] = _coord_udeg(
                    _rationals(tiff, end, *gps[_GPS_LAT]),
                    _ascii(tiff, end, *gps[_GPS_LATREF]) or "N",
                    "S",
                )
            if _GPS_LON in gps and _GPS_LONREF in gps:
                out["gps_lon_udeg"] = _coord_udeg(
                    _rationals(tiff, end, *gps[_GPS_LON]),
                    _ascii(tiff, end, *gps[_GPS_LONREF]) or "E",
                    "W",
                )
        except (struct.error, IndexError):
            pass  # malformed coordinates: presence already reported
    return out


def probe_exif(payload: bytes) -> dict:
    """EXIF metadata of a JPEG: orientation, datetime, make, model,
    GPS presence and (if present) latitude/longitude in micro-degrees
    (exact integers: deg·1e6 + min·1e6/60 + sec·1e6/3600, floor —
    no float leaves this function). JPEGs without an EXIF APP1 return
    the all-absent dict; non-JPEGs raise.

    EVERY APP1 Exif segment is parsed, not just the first (ADVICE r7:
    GPS in a second APP1 must not read as has_gps=false): scalar
    fields take the first non-absent value in file order, ``has_gps``
    is true if ANY segment carries a GPS IFD, and coordinates come
    from the first segment that has them."""
    out = {
        "has_exif": False,
        "orientation": None,
        "datetime": None,
        "make": None,
        "model": None,
        "has_gps": False,
        "gps_lat_udeg": None,
        "gps_lon_udeg": None,
    }
    for start, length in _app1_exif_segments(payload):
        # the segment spans [start, start+length): 2-byte marker +
        # 2-byte size + 6-byte "Exif\0\0" + TIFF. (r7 sliced to
        # start+2+length, appending 2 bytes of the next marker —
        # ADVICE r7 off-by-two.)
        seg = _probe_tiff(payload[start + 10 : start + length])
        out["has_exif"] = True
        for k in ("orientation", "datetime", "make", "model"):
            if out[k] is None:
                out[k] = seg[k]
        out["has_gps"] = out["has_gps"] or seg["has_gps"]
        for k in ("gps_lat_udeg", "gps_lon_udeg"):
            if out[k] is None:
                out[k] = seg[k]
    return out


def _coord_udeg(dms, ref: str, neg_ref: str) -> int:
    """(deg, min, sec) rationals → signed integer micro-degrees."""
    scaled = 0
    for (num, den), factor in zip(dms, (1, 60, 3600)):
        if den:
            scaled += num * 1_000_000 // (den * factor)
    return -scaled if ref.upper().startswith(neg_ref) else scaled


def scrub_gps(payload: bytes) -> bytes:
    """Return the JPEG with location/identity metadata removed:

    - ONE EXIF APP1 is REBUILT from a whitelist (orientation /
      datetime / make / model — little-endian, value data re-packed),
      merged across however many Exif APP1 segments the file carried;
      every other entry, including the whole GPS IFD, is dropped.
    - EVERY other APP1 (second Exif, XMP — which can carry
      ``exif:GPSLatitude``) and every APP13 (Photoshop IPTC, which
      can carry location) segment is DROPPED outright (ADVICE r7:
      GPS must not survive a "scrubbed" payload via a sibling
      metadata segment).

    No APP1/APP13 at all → returned unchanged. Rebuilding is the only
    honest scrub: surgically unlinking pointers would leave the
    coordinate rationals in the file for anyone reading raw bytes.
    The compressed image stream is byte-identical either way."""
    drop = [
        (start, length)
        for marker, start, length in _iter_jpeg_segments(payload)
        if marker in (0xE1, 0xED)  # every APP1 (Exif/XMP/…) + APP13
    ]
    if not drop:
        return payload
    meta = probe_exif(payload)
    seg = b""
    if meta["has_exif"]:
        entries = []  # (tag, type, count, data bytes)
        if meta["orientation"] is not None:
            entries.append(
                (_TAG_ORIENTATION, 3, 1, struct.pack("<H", meta["orientation"]))
            )
        for tag, key in (
            (_TAG_MAKE, "make"),
            (_TAG_MODEL, "model"),
            (_TAG_DATETIME, "datetime"),
        ):
            if meta[key] is not None:
                entries.append(
                    (tag, 2, len(meta[key]) + 1, meta[key].encode() + b"\x00")
                )
        entries.sort()
        # little-endian TIFF: header(8) + count(2) + 12n + next-ptr(4)
        data_off = 8 + 2 + 12 * len(entries) + 4
        body = bytearray()
        ifd = struct.pack("<H", len(entries))
        for tag, typ, cnt, data in entries:
            size = len(data)
            if size <= 4:
                val = data + b"\x00" * (4 - size)
            else:
                val = struct.pack("<I", data_off + len(body))
                body += data
            ifd += struct.pack("<HHI", tag, typ, cnt) + val
        ifd += struct.pack("<I", 0)  # no next IFD
        tiff = b"II" + struct.pack("<HI", 42, 8) + ifd + bytes(body)
        app1_payload = _EXIF_HEADER + tiff
        seg = (
            b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) + app1_payload
        )
    # splice: rebuilt segment replaces the FIRST dropped segment;
    # the rest vanish (iterate back-to-front so offsets stay valid)
    out = payload
    for i, (start, length) in enumerate(reversed(drop)):
        keep = seg if i == len(drop) - 1 else b""
        out = out[:start] + keep + out[start + length :]
    return out


def build_exif_app1(
    *,
    orientation: int | None = 6,
    datetime: str | None = "2024:05:01 12:00:00",
    make: str | None = "CamCo",
    model: str | None = "X100",
    gps: tuple[float, float] | None = (37.7749, -122.4194),
    byte_order: str = "<",
) -> bytes:
    """Hand-compose a full EXIF APP1 segment (optionally with a GPS
    sub-IFD carrying degree/minute/second rationals) — test vectors
    for :func:`probe_exif` / :func:`scrub_gps`."""
    end = byte_order
    bom = b"II" if end == "<" else b"MM"

    def pack(fmt, *v):
        return struct.pack(end + fmt, *v)

    ifd0 = []  # (tag, type, count, data)
    if make:
        ifd0.append((_TAG_MAKE, 2, len(make) + 1, make.encode() + b"\x00"))
    if model:
        ifd0.append((_TAG_MODEL, 2, len(model) + 1, model.encode() + b"\x00"))
    if orientation is not None:
        ifd0.append((_TAG_ORIENTATION, 3, 1, pack("H", orientation)))
    if datetime:
        ifd0.append((_TAG_DATETIME, 2, len(datetime) + 1, datetime.encode() + b"\x00"))

    gps_entries = []
    if gps is not None:
        lat, lon = gps

        def dms(x: float):
            x = abs(x)
            d = int(x)
            m = int((x - d) * 60)
            s_num = int(round(((x - d) * 60 - m) * 60 * 10000))
            return b"".join(
                pack("II", *p) for p in ((d, 1), (m, 1), (s_num, 10000))
            )

        gps_entries = [
            (_GPS_LATREF, 2, 2, (b"N" if lat >= 0 else b"S") + b"\x00"),
            (_GPS_LAT, 5, 3, dms(lat)),
            (_GPS_LONREF, 2, 2, (b"E" if lon >= 0 else b"W") + b"\x00"),
            (_GPS_LON, 5, 3, dms(lon)),
        ]
        ifd0.append((_TAG_GPS_IFD, 4, 1, None))  # pointer patched below

    ifd0.sort(key=lambda e: e[0])
    ifd0_size = 2 + 12 * len(ifd0) + 4
    gps_ifd_off = 8 + ifd0_size
    gps_ifd_size = (2 + 12 * len(gps_entries) + 4) if gps_entries else 0
    data_off = gps_ifd_off + gps_ifd_size
    body = bytearray()

    def emit(entries, base_next=0):
        nonlocal body
        blob = pack("H", len(entries))
        for tag, typ, cnt, data in entries:
            if tag == _TAG_GPS_IFD and data is None:
                val = pack("I", gps_ifd_off)
            else:
                if len(data) <= 4:
                    val = data + b"\x00" * (4 - len(data))
                else:
                    val = pack("I", data_off + len(body))
                    body += data
            blob += pack("HHI", tag, typ, cnt) + val
        return blob + pack("I", base_next)

    ifd0_blob = emit(ifd0)
    gps_blob = emit(gps_entries) if gps_entries else b""
    tiff = bom + pack("HI", 42, 8) + ifd0_blob + gps_blob + bytes(body)
    return _EXIF_HEADER + tiff


def attach_app1(jpeg: bytes, app1_payload: bytes) -> bytes:
    """Insert an APP1 segment right after SOI — how cameras place
    EXIF."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1_payload) + 2) + app1_payload
    return jpeg[:2] + seg + jpeg[2:]
