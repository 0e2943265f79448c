"""Native AIVDM/AIS codec — U2 decode without the pyais dependency.

The reference decodes NMEA with pyais inside the producer process
(lib/producer-from-ais-api.py:26-27); the engine does not depend on
pyais. This module implements the subset of ITU-R M.1371 the pipeline
consumes — position reports (types 1/2/3 Class A, 18 Class B),
static/voyage data (type 5), Class B static (type 24 A/B), and the
(msg_type, mmsi) envelope of every other valid type (1-27; the P1
router drops them, as the reference producer does) — from the public
specification (bit layout as documented in ITU-R M.1371-5 and the GPSd
AIVDM/AIVDO protocol notes):

- NMEA sentence parse with XOR checksum validation and the optional
  receiver tag block (``\\c:<epoch>*hh\\`` prefix) the reference's feed
  carries (producer-from-ais-api.py:31-34),
- 6-bit payload armor (chars ``0``-``W`` → 0-39, ``\\``` -``w`` → 40-63),
- multi-fragment assembly keyed on (sequence id, channel) — type 5 spans
  two sentences at the 82-char NMEA limit,
- signed/unsigned bitfield extraction with the standard not-available
  sentinels (lat 91°, lon 181°, SOG 1023, heading 511, status 15 → None),
- 6-bit text decode for shipname/callsign/destination ('@' padding and
  trailing spaces stripped).

One bit-layout table (``_LAYOUTS``) holds each message's field offsets,
widths, readers and not-available sentinels: ``decode_payload`` and the
ENCODER both walk it. Round-trip property tests pin encoder/decoder
consistency bit-for-bit, and the encoder generates realistic NMEA
fixtures for the transport/streaming tests.
Decoded field names and enum spellings match the ``AIS_DECODED`` schema
contract (schemas.py), the fields the reference reads off pyais
messages. Everything here is pure stdlib Python — it runs in
any executor.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import reduce
from operator import xor
from typing import Callable, NamedTuple

# ITU-R M.1371 Table 45 navigation status (spellings per the enum names
# the pipeline's fixtures/oracles use; index = wire value).
NAV_STATUS = (
    "UnderWayUsingEngine",  # 0
    "AtAnchor",  # 1
    "NotUnderCommand",  # 2
    "RestrictedManoeuverability",  # 3
    "ConstrainedByHerDraught",  # 4
    "Moored",  # 5
    "Aground",  # 6
    "EngagedInFishing",  # 7
    "UnderWaySailing",  # 8
    "ReservedHSC",  # 9
    "ReservedWIG",  # 10
    "PowerDrivenVesselTowingAstern",  # 11
    "PowerDrivenVesselPushingAhead",  # 12
    "ReservedFutureUse",  # 13
    "AISSartActive",  # 14
    None,  # 15 = not defined → F1 default downstream
)

# Ship-type first digit → family name (M.1371 Table 53, decade form).
_SHIP_TYPE_FAMILIES = {
    2: "WIG",
    3: "Fishing",  # 30 fishing; 31-37 towing/dredging/diving/military/sailing/pleasure
    4: "HighSpeedCraft",
    5: "SpecialCraft",
    6: "Passenger",
    7: "Cargo",
    8: "Tanker",
    9: "OtherType",
}


def ship_type_name(code: int | None) -> str | None:
    """Wire code → coarse family name (NotReported default applied
    downstream by F1, so 0/None stay None here)."""
    if not code:
        return None
    fam = _SHIP_TYPE_FAMILIES.get(code // 10)
    return fam if fam else f"Type{code}"


# --- 6-bit armor ------------------------------------------------------------


def armor_char_to_val(c: str) -> int:
    # valid armor alphabet: '0'-'W' (48-87 → 0-39) and '`'-'w' (96-119 →
    # 40-63); 'X'-'_' (88-95) are NOT armor chars — without the explicit
    # range check they'd silently decode to wrong values
    o = ord(c)
    if 48 <= o <= 87:
        return o - 48
    if 96 <= o <= 119:
        return o - 56
    raise ValueError(f"invalid AIS armor char: {c!r}")


def val_to_armor_char(v: int) -> str:
    if not 0 <= v <= 63:
        raise ValueError(f"armor value out of range: {v}")
    return chr(v + 48) if v < 40 else chr(v + 56)


# armor char -> its 6-bit value as two octal digits: ``str.translate``
# then one ``int(_, 8)`` unarmors a whole payload without a Python call
# per char. Chars outside the alphabet stay one char wide, so a short
# result is exactly "some char was not armor".
_ARMOR_OCTAL = {o: f"{armor_char_to_val(chr(o)):02o}" for o in (*range(48, 88), *range(96, 120))}


def payload_to_bits(payload: str, fill_bits: int = 0) -> tuple[int, int]:
    """(value, n_bits) of the unarmored payload, dropping fill bits."""
    octal = payload.translate(_ARMOR_OCTAL)
    if len(octal) != 2 * len(payload):
        for c in payload:
            armor_char_to_val(c)  # raises ValueError naming the first bad char
    value = int(octal, 8) if payload else 0
    n = 6 * len(payload) - fill_bits
    return value >> fill_bits if fill_bits else value, n


def bits_to_payload(value: int, n_bits: int) -> tuple[str, int]:
    """Armor ``n_bits`` of ``value`` into payload chars + fill bit count."""
    fill = (6 - n_bits % 6) % 6
    value <<= fill
    total = n_bits + fill
    chars = []
    for shift in range(total - 6, -1, -6):
        chars.append(val_to_armor_char((value >> shift) & 0x3F))
    return "".join(chars), fill


# --- bitfield access --------------------------------------------------------


def _u(bits: int, n_bits: int, start: int, width: int) -> int:
    """Unsigned field at MSB-first bit offset ``start``."""
    return (bits >> (n_bits - start - width)) & ((1 << width) - 1)


def _s(bits: int, n_bits: int, start: int, width: int) -> int:
    """Two's-complement signed field."""
    v = (bits >> (n_bits - start - width)) & ((1 << width) - 1)
    return v - (1 << width) if v >> (width - 1) else v


_SIXBIT_CHARS = "@ABCDEFGHIJKLMNOPQRSTUVWXYZ[\\]^_ !\"#$%&'()*+,-./0123456789:;<=>?"


def sixbit_text(bits: int, n_bits: int, start: int, width: int) -> str | None:
    """6-bit ASCII text field; '@' padding and trailing spaces stripped."""
    v = _u(bits, n_bits, start, width)
    s = "".join([_SIXBIT_CHARS[(v >> k) & 63] for k in range(width - 6, -1, -6)])
    s = s.split("@", 1)[0].rstrip()
    return s or None


def text_to_sixbits(s: str, n_chars: int) -> int:
    """Encode ``s`` into ``n_chars`` 6-bit chars, '@'-padded."""
    v = 0
    padded = (s or "").upper()[:n_chars].ljust(n_chars, "@")
    for c in padded:
        v = (v << 6) | _SIXBIT_CHARS.index(c)
    return v


# --- the bit-layout table ---------------------------------------------------
# Every layout the codec knows, written once: decode_payload and _encode
# both walk it. A kind is a field's (raw -> value, value -> raw) pair:
# the value is what AIS_DECODED carries on decode and the encoder's
# argument on encode (the wire code, for ship type).


class _Field(NamedTuple):
    name: str  # AIS_DECODED key, and the encoder's keyword for it
    start: int  # MSB-first bit offset
    width: int
    read: Callable  # _u, _s or sixbit_text
    kind: tuple[Callable, Callable]


class _Layout(NamedTuple):
    min_bits: int  # a shorter payload decodes to the (msg_type, mmsi) envelope only
    n_bits: int  # the encoded message length
    head: tuple[_Field, ...]  # the fields that select the layout
    fields: tuple[_Field, ...]  # the fields decode_payload fills in


def _same(v):
    return v


def _degrees(na_deg: int) -> tuple[Callable, Callable]:
    """Coordinate in 1/10000 minute; ``na_deg`` degrees = not available."""
    na = na_deg * 600_000
    return (
        lambda r: None if r == na else r / 600_000.0,
        lambda v: na if v is None else int(round(v * 600_000)),
    )


def _text(n_chars: int) -> tuple[Callable, Callable]:
    return _same, lambda s: text_to_sixbits(s, n_chars)


_RAW = (_same, _same)
_SOG = (lambda r: None if r == 1023 else r // 10), (lambda v: 1023 if v is None else v * 10)
_HEADING = (lambda r: None if r == 511 else r), (lambda v: 511 if v is None else v)
_SHIP_TYPE = (ship_type_name, _same)
_LON, _LAT = _degrees(181), _degrees(91)

_MSG_TYPE = _Field("msg_type", 0, 6, _u, _RAW)
_MMSI = _Field("mmsi", 8, 30, _u, _RAW)
_ENVELOPE = (_MSG_TYPE, _MMSI)
_PART = _Field("part", 38, 2, _u, _RAW)  # type 24: part A (0) or B (1)
_POSITION_A = _Layout(144, 168, _ENVELOPE, (
    _Field("status", 38, 4, _u, (NAV_STATUS.__getitem__, _same)),
    _Field("speed", 50, 10, _u, _SOG),
    _Field("lon", 61, 28, _s, _LON),
    _Field("lat", 89, 27, _s, _LAT),
    _Field("heading", 128, 9, _u, _HEADING),
))
_LAYOUTS = {
    1: _POSITION_A,
    2: _POSITION_A,
    3: _POSITION_A,
    18: _Layout(140, 168, _ENVELOPE, (
        _Field("speed", 46, 10, _u, _SOG),
        _Field("lon", 57, 28, _s, _LON),
        _Field("lat", 85, 27, _s, _LAT),
        _Field("heading", 124, 9, _u, _HEADING),
    )),
    # destination ends at bit 422: a 421-bit payload would read past its end
    5: _Layout(422, 424, _ENVELOPE, (
        _Field("callsign", 70, 42, sixbit_text, _text(7)),
        _Field("shipname", 112, 120, sixbit_text, _text(20)),
        _Field("ship_type", 232, 8, _u, _SHIP_TYPE),
        _Field("destination", 302, 120, sixbit_text, _text(20)),
    )),
    (24, 0): _Layout(160, 160, (*_ENVELOPE, _PART), (
        _Field("shipname", 40, 120, sixbit_text, _text(20)),
    )),
    (24, 1): _Layout(132, 168, (*_ENVELOPE, _PART), (
        _Field("ship_type", 40, 8, _u, _SHIP_TYPE),
        _Field("callsign", 90, 42, sixbit_text, _text(7)),
    )),
}
# decode_payload's starting point: the AIS_DECODED keys it fills, all unset
_UNSET = dict.fromkeys(
    ("msg_type", "mmsi", "status", "lat", "lon", "speed", "heading", "shipname", "callsign", "ship_type", "destination")
)


# --- payload decode ---------------------------------------------------------


def decode_payload(payload: str, fill_bits: int = 0) -> dict | None:
    """Decode one assembled payload. Returns an AIS_DECODED-shaped dict
    (without receiver_timestamp — that rides the tag block), or None for
    message types outside the pipeline's router (P1 drops them anyway).
    A valid type (1-27) without a layout, or a payload shorter than its
    layout's ``min_bits``, yields the (msg_type, mmsi) envelope like
    pyais would — the P1 router drops it, so the decoded-stage stream
    matches the reference producer's."""
    bits, n = payload_to_bits(payload, fill_bits)
    if n < _MMSI.start + _MMSI.width:
        return None
    msg_type = _u(bits, n, _MSG_TYPE.start, _MSG_TYPE.width)
    if not 1 <= msg_type <= 27:
        return None
    msg = _UNSET.copy()
    msg["msg_type"] = msg_type
    msg["mmsi"] = _u(bits, n, _MMSI.start, _MMSI.width)
    key = msg_type
    if msg_type == 24:
        key = (24, _u(bits, n, _PART.start, _PART.width)) if n >= _PART.start + _PART.width else None
    layout = _LAYOUTS.get(key)
    if layout is not None and n >= layout.min_bits:
        for name, start, width, read, (to_value, _) in layout.fields:
            msg[name] = to_value(read(bits, n, start, width))
    return msg


# --- sentence layer ---------------------------------------------------------


def nmea_checksum(body: str) -> str:
    """XOR of the body's code points as two hex digits."""
    try:
        codes = body.encode("latin-1")  # bytes == code points, no per-char call
    except UnicodeEncodeError:
        codes = map(ord, body)
    return f"{reduce(xor, codes, 0):02X}"


def parse_sentence(line: str) -> dict | None:
    """One raw feed line → parts dict, or None if malformed.

    Handles the optional ``\\...\\`` tag block prefix; validates both the
    tag-block and sentence checksums. receiver_timestamp is the tag
    block's base-10 ``c:`` field as a string (the S2 contract — parse
    failures downstream drop the row, mirroring the reference's gate).
    """
    line = line.strip()
    receiver_timestamp = None
    if line.startswith("\\"):
        end = line.find("\\", 1)
        if end < 0:
            return None
        block = line[1:end]
        line = line[end + 1 :]
        star = block.rfind("*")
        if star >= 0:
            if nmea_checksum(block[:star]) != block[star + 1 :].upper():
                return None
            block = block[:star]
        for field in block.split(","):
            if field.startswith("c:"):
                receiver_timestamp = field[2:]
    if not line.startswith(("!AIVDM", "!AIVDO")):
        return None
    star = line.rfind("*")
    if star < 0 or nmea_checksum(line[1:star]) != line[star + 1 :].upper():
        return None
    parts = line[1:star].split(",")
    if len(parts) != 7:
        return None
    try:
        return {
            "frag_count": int(parts[1]),
            "frag_num": int(parts[2]),
            "seq_id": parts[3],
            "channel": parts[4],
            "payload": parts[5],
            "fill_bits": int(parts[6]),
            "receiver_timestamp": receiver_timestamp,
        }
    except ValueError:
        return None


def decode_lines(lines: Iterable[str]) -> Iterator[dict]:
    """Feed lines → AIS_DECODED dicts, assembling multi-fragment
    messages on (seq_id, channel). Malformed sentences and fragments
    whose counterpart never arrives are dropped — the reference
    producer's skip-on-decode-failure behavior. Fragment state is local
    to this iterator (one assembly buffer per partition/batch; a pair
    straddling a partition boundary is dropped, not corrupted)."""
    pending: dict[tuple[str, str], list] = {}
    # A well-formed feed holds ≤20 live keys (seq_id 0-9 × channel A/B), but
    # seq_id/channel parse as arbitrary strings, so a corrupt or hostile
    # long-lived stream could otherwise grow the orphan buffer without
    # bound. Orphans are dropped anyway — evict oldest-inserted beyond the
    # cap (dict preserves insertion order).
    max_pending = 64
    for raw in lines:
        s = parse_sentence(raw)
        if s is None:
            continue
        if s["frag_count"] == 1:
            try:
                msg = decode_payload(s["payload"], s["fill_bits"])
            except ValueError:
                continue  # corrupt armor that survived the 8-bit checksum
            if msg is not None:
                msg["receiver_timestamp"] = s["receiver_timestamp"]
                yield msg
            continue
        if not 1 <= s["frag_num"] <= s["frag_count"]:
            continue  # frag_num 0/negative would index the wrong slot
        key = (s["seq_id"], s["channel"])
        frags = pending.get(key)
        if frags is None or len(frags) != s["frag_count"]:
            # new message on this seq id (or a frag_count mismatch with a
            # stale buffer): start clean rather than assemble a chimera
            if frags is None and len(pending) >= max_pending:
                pending.pop(next(iter(pending)))
            frags = pending[key] = [None] * s["frag_count"]
        frags[s["frag_num"] - 1] = s
        if all(f is not None for f in frags):
            del pending[key]
            payload = "".join(f["payload"] for f in frags)
            try:
                msg = decode_payload(payload, frags[-1]["fill_bits"])
            except ValueError:
                continue
            if msg is not None:
                # tag block rides the first fragment on the wire
                msg["receiver_timestamp"] = frags[0]["receiver_timestamp"]
                yield msg


# --- encoder (round-trip tests + fixture generation) ------------------------


def _encode(
    layout: _Layout, msg_type: int, mmsi: int, receiver_ts: int | None, channel: str, seq_id: str = "", **values
) -> list[str]:
    """``layout``'s head and fields, each from ``values`` by name (a
    missing one encodes as None), as NMEA sentences of at most 42 armor
    chars (the 82-char line limit); the tag block rides the first."""
    values.update(msg_type=msg_type, mmsi=mmsi)
    n = layout.n_bits
    bits = 0
    for name, start, width, _, (_, to_raw) in (*layout.head, *layout.fields):
        bits |= (to_raw(values.get(name)) & ((1 << width) - 1)) << (n - start - width)
    payload, fill = bits_to_payload(bits, n)
    chunks = [payload[i : i + 42] for i in range(0, len(payload), 42)]
    count = len(chunks)
    sentences = []
    for num, chunk in enumerate(chunks, 1):
        body = f"AIVDM,{count},{num},{seq_id if count > 1 else ''},{channel},{chunk},{fill if num == count else 0}"
        sentences.append(f"!{body}*{nmea_checksum(body)}")
    if receiver_ts is not None:
        block = f"c:{receiver_ts}"
        sentences[0] = f"\\{block}*{nmea_checksum(block)}\\{sentences[0]}"
    return sentences


def encode_position(
    mmsi: int,
    lat: float | None,
    lon: float | None,
    speed: int | None,
    heading: int | None,
    status: int = 0,
    msg_type: int = 1,
    receiver_ts: int | None = None,
    channel: str = "A",
) -> str:
    """One type-1/2/3 position sentence (168 bits)."""
    assert msg_type in (1, 2, 3)
    return _encode(
        _LAYOUTS[msg_type], msg_type, mmsi, receiver_ts, channel,
        status=status, speed=speed, lon=lon, lat=lat, heading=heading,
    )[0]


def encode_class_b_position(
    mmsi: int,
    lat: float | None,
    lon: float | None,
    speed: int | None,
    heading: int | None,
    receiver_ts: int | None = None,
    channel: str = "B",
) -> str:
    """One type-18 Class B position sentence (168 bits)."""
    return _encode(_LAYOUTS[18], 18, mmsi, receiver_ts, channel, speed=speed, lon=lon, lat=lat, heading=heading)[0]


def encode_class_b_static(
    mmsi: int,
    part: int,
    shipname: str | None = None,
    callsign: str | None = None,
    ship_type_code: int = 0,
    receiver_ts: int | None = None,
    channel: str = "A",
) -> str:
    """Type-24 Class B static data report: part 0 = shipname (160 bits),
    part 1 = ship type + callsign (168 bits)."""
    assert part in (0, 1)
    return _encode(
        _LAYOUTS[24, part], 24, mmsi, receiver_ts, channel,
        part=part, shipname=shipname, callsign=callsign, ship_type=ship_type_code,
    )[0]


def encode_static(
    mmsi: int,
    shipname: str | None,
    callsign: str | None,
    ship_type_code: int,
    destination: str | None,
    seq_id: str = "1",
    receiver_ts: int | None = None,
    channel: str = "A",
) -> list[str]:
    """Type-5 static/voyage message as its two-fragment sentence pair
    (424 bits → 71 armor chars, over the 82-char NMEA line limit)."""
    return _encode(
        _LAYOUTS[5], 5, mmsi, receiver_ts, channel, seq_id,
        callsign=callsign, shipname=shipname, ship_type=ship_type_code, destination=destination,
    )
