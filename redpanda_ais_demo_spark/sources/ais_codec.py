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

An ENCODER for the same layouts ships alongside: round-trip property
tests pin encoder/decoder consistency bit-for-bit, and the encoder
generates realistic NMEA fixtures for the transport/streaming tests.
Decoded field names and enum spellings match the ``AIS_DECODED`` schema
contract (schemas.py), the fields the reference reads off pyais
messages. Everything here is pure stdlib Python — it runs in
any executor.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import reduce
from operator import xor

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
    v = _u(bits, n_bits, start, width)
    return v - (1 << width) if v & (1 << (width - 1)) else v


_SIXBIT_CHARS = "@ABCDEFGHIJKLMNOPQRSTUVWXYZ[\\]^_ !\"#$%&'()*+,-./0123456789:;<=>?"


def sixbit_text(bits: int, n_bits: int, start: int, width: int) -> str | None:
    """6-bit ASCII text field; '@' padding and trailing spaces stripped."""
    chars = []
    for off in range(start, start + width, 6):
        chars.append(_SIXBIT_CHARS[_u(bits, n_bits, off, 6)])
    s = "".join(chars).split("@", 1)[0].rstrip()
    return s or None


def text_to_sixbits(s: str, n_chars: int) -> int:
    """Encode ``s`` into ``n_chars`` 6-bit chars, '@'-padded."""
    v = 0
    padded = (s or "").upper()[:n_chars].ljust(n_chars, "@")
    for c in padded:
        v = (v << 6) | _SIXBIT_CHARS.index(c)
    return v


# --- payload decode ---------------------------------------------------------

_LON_NA = 181 * 600_000
_LAT_NA = 91 * 600_000


def decode_payload(payload: str, fill_bits: int = 0) -> dict | None:
    """Decode one assembled payload. Returns an AIS_DECODED-shaped dict
    (without receiver_timestamp — that rides the tag block), or None for
    message types outside the pipeline's router (P1 drops them anyway).
    """
    bits, n = payload_to_bits(payload, fill_bits)
    if n < 38:
        return None
    msg_type = _u(bits, n, 0, 6)
    mmsi = _u(bits, n, 8, 30)
    base = {
        "msg_type": msg_type,
        "mmsi": mmsi,
        "status": None,
        "lat": None,
        "lon": None,
        "speed": None,
        "heading": None,
        "shipname": None,
        "callsign": None,
        "ship_type": None,
        "destination": None,
    }
    if msg_type in (1, 2, 3) and n >= 144:
        status = _u(bits, n, 38, 4)
        sog = _u(bits, n, 50, 10)
        lon_raw = _s(bits, n, 61, 28)
        lat_raw = _s(bits, n, 89, 27)
        hdg = _u(bits, n, 128, 9)
        base.update(
            status=NAV_STATUS[status],
            speed=None if sog == 1023 else sog // 10,
            lon=None if lon_raw == _LON_NA else lon_raw / 600_000.0,
            lat=None if lat_raw == _LAT_NA else lat_raw / 600_000.0,
            heading=None if hdg == 511 else hdg,
        )
        return base
    if msg_type == 18 and n >= 140:
        sog = _u(bits, n, 46, 10)
        lon_raw = _s(bits, n, 57, 28)
        lat_raw = _s(bits, n, 85, 27)
        hdg = _u(bits, n, 124, 9)
        base.update(
            speed=None if sog == 1023 else sog // 10,
            lon=None if lon_raw == _LON_NA else lon_raw / 600_000.0,
            lat=None if lat_raw == _LAT_NA else lat_raw / 600_000.0,
            heading=None if hdg == 511 else hdg,
        )
        return base
    # destination occupies bits 302-421, so the last 6-bit read needs
    # n >= 422 (421 would shift by -1 and raise, not decode)
    if msg_type == 5 and n >= 422:
        base.update(
            callsign=sixbit_text(bits, n, 70, 42),
            shipname=sixbit_text(bits, n, 112, 120),
            ship_type=ship_type_name(_u(bits, n, 232, 8)),
            destination=sixbit_text(bits, n, 302, 120),
        )
        return base
    if msg_type == 24 and n >= 40:
        part = _u(bits, n, 38, 2)
        if part == 0 and n >= 160:  # Part A: shipname only
            base.update(shipname=sixbit_text(bits, n, 40, 120))
        elif part == 1 and n >= 132:  # Part B: ship type + callsign
            base.update(
                ship_type=ship_type_name(_u(bits, n, 40, 8)),
                callsign=sixbit_text(bits, n, 90, 42),
            )
        return base
    if 1 <= msg_type <= 27:
        # valid envelope of a type this codec doesn't field-decode: emit
        # (msg_type, mmsi) like pyais would — the P1 router drops it, so
        # the decoded-stage stream matches the reference producer's
        return base
    return None


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


def _frame(payload: str, fill: int, frag_count: int, frag_num: int, seq_id: str, channel: str) -> str:
    body = f"AIVDM,{frag_count},{frag_num},{seq_id},{channel},{payload},{fill}"
    return f"!{body}*{nmea_checksum(body)}"


def _with_tag_block(sentence: str, receiver_ts: int | None) -> str:
    if receiver_ts is None:
        return sentence
    block = f"c:{receiver_ts}"
    return f"\\{block}*{nmea_checksum(block)}\\{sentence}"


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
    n = 168
    bits = 0

    def put(start, width, value):
        nonlocal bits
        bits |= (value & ((1 << width) - 1)) << (n - start - width)

    put(0, 6, msg_type)
    put(8, 30, mmsi)
    put(38, 4, status)
    put(50, 10, 1023 if speed is None else speed * 10)
    put(61, 28, _LON_NA if lon is None else int(round(lon * 600_000)))
    put(89, 27, _LAT_NA if lat is None else int(round(lat * 600_000)))
    put(128, 9, 511 if heading is None else heading)
    payload, fill = bits_to_payload(bits, n)
    return _with_tag_block(_frame(payload, fill, 1, 1, "", channel), receiver_ts)


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
    n = 168
    bits = 0

    def put(start, width, value):
        nonlocal bits
        bits |= (value & ((1 << width) - 1)) << (n - start - width)

    put(0, 6, 18)
    put(8, 30, mmsi)
    put(46, 10, 1023 if speed is None else speed * 10)
    put(57, 28, _LON_NA if lon is None else int(round(lon * 600_000)))
    put(85, 27, _LAT_NA if lat is None else int(round(lat * 600_000)))
    put(124, 9, 511 if heading is None else heading)
    payload, fill = bits_to_payload(bits, n)
    return _with_tag_block(_frame(payload, fill, 1, 1, "", channel), receiver_ts)


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
    n = 160 if part == 0 else 168
    bits = 0

    def put(start, width, value):
        nonlocal bits
        bits |= (value & ((1 << width) - 1)) << (n - start - width)

    put(0, 6, 24)
    put(8, 30, mmsi)
    put(38, 2, part)
    if part == 0:
        put(40, 120, text_to_sixbits(shipname or "", 20))
    else:
        put(40, 8, ship_type_code)
        put(90, 42, text_to_sixbits(callsign or "", 7))
    payload, fill = bits_to_payload(bits, n)
    return _with_tag_block(_frame(payload, fill, 1, 1, "", channel), receiver_ts)


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
    n = 424
    bits = 0

    def put(start, width, value):
        nonlocal bits
        bits |= (value & ((1 << width) - 1)) << (n - start - width)

    put(0, 6, 5)
    put(8, 30, mmsi)
    put(70, 42, text_to_sixbits(callsign or "", 7))
    put(112, 120, text_to_sixbits(shipname or "", 20))
    put(232, 8, ship_type_code)
    put(302, 120, text_to_sixbits(destination or "", 20))
    payload, fill = bits_to_payload(bits, n)
    split = 42  # chars in fragment 1 (within the NMEA length budget)
    first = _frame(payload[:split], 0, 2, 1, seq_id, channel)
    second = _frame(payload[split:], fill, 2, 2, seq_id, channel)
    return [_with_tag_block(first, receiver_ts), second]
