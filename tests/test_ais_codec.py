"""Native AIS codec tests: encoder/decoder round-trips (bit-layout
self-consistency), an externally published reference sentence (layout
cross-check against the GPSd AIVDM protocol documentation), checksum and
tag-block handling, fragment assembly, and the Spark decode_nmea path
end-to-end into the P1/P2 router."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from redpanda_ais_demo_spark.sources import ais_codec as C

# --- armor / text primitives ------------------------------------------------


def test_armor_round_trips_all_values():
    for v in range(64):
        assert C.armor_char_to_val(C.val_to_armor_char(v)) == v


def test_payload_bits_round_trip():
    value, n = 0b101101110001, 12
    payload, fill = C.bits_to_payload(value, n)
    back, n_back = C.payload_to_bits(payload, fill)
    assert (back, n_back) == (value, n)


def test_sixbit_text_round_trip():
    for s in ("NORDIC STAR", "LAXA", "KIRKENES", "", "A B-C.1/2"):
        bits = C.text_to_sixbits(s, 20)
        assert C.sixbit_text(bits, 120, 0, 120) == (s or None)


# --- position round-trip (property) -----------------------------------------

coord_lat = st.integers(-90 * 600_000, 90 * 600_000)
coord_lon = st.integers(-180 * 600_000, 180 * 600_000)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, (1 << 30) - 1),
    coord_lat,
    coord_lon,
    st.one_of(st.none(), st.integers(0, 102)),
    st.one_of(st.none(), st.integers(0, 359)),
    st.integers(0, 14),
    st.sampled_from([1, 2, 3]),
)
def test_position_encode_decode_round_trip(mmsi, lat_raw, lon_raw, speed, heading, status, mt):
    lat, lon = lat_raw / 600_000.0, lon_raw / 600_000.0
    line = C.encode_position(mmsi, lat, lon, speed, heading, status, msg_type=mt, receiver_ts=1_700_000_000)
    msgs = list(C.decode_lines([line]))
    assert len(msgs) == 1
    m = msgs[0]
    assert m["msg_type"] == mt and m["mmsi"] == mmsi
    assert m["status"] == C.NAV_STATUS[status]
    assert m["speed"] == speed and m["heading"] == heading
    assert abs(m["lat"] - lat) < 1e-9 and abs(m["lon"] - lon) < 1e-9
    assert m["receiver_timestamp"] == "1700000000"


@settings(max_examples=50, deadline=None)
@given(st.integers(0, (1 << 30) - 1), coord_lat, coord_lon)
def test_class_b_round_trip(mmsi, lat_raw, lon_raw):
    lat, lon = lat_raw / 600_000.0, lon_raw / 600_000.0
    line = C.encode_class_b_position(mmsi, lat, lon, 7, 45)
    (m,) = list(C.decode_lines([line]))
    assert m["msg_type"] == 18 and m["mmsi"] == mmsi
    assert m["speed"] == 7 and m["heading"] == 45
    assert abs(m["lat"] - lat) < 1e-9 and abs(m["lon"] - lon) < 1e-9


def test_position_not_available_sentinels():
    line = C.encode_position(123, None, None, None, None, status=15)
    (m,) = list(C.decode_lines([line]))
    assert m["lat"] is None and m["lon"] is None
    assert m["speed"] is None and m["heading"] is None and m["status"] is None


def test_static_two_fragment_round_trip():
    frags = C.encode_static(
        257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES", receiver_ts=1_700_000_200
    )
    assert len(frags) == 2
    (m,) = list(C.decode_lines(frags))
    assert m["msg_type"] == 5 and m["mmsi"] == 257000001
    assert m["shipname"] == "NORDIC STAR" and m["callsign"] == "LAXA"
    assert m["ship_type"] == "Tanker" and m["destination"] == "KIRKENES"
    assert m["receiver_timestamp"] == "1700000200"
    # reversed arrival order still assembles (buffered on seq id)
    (m2,) = list(C.decode_lines(frags[::-1]))
    assert m2["shipname"] == "NORDIC STAR"
    # an orphan fragment never yields a message
    assert list(C.decode_lines(frags[:1])) == []


def test_pending_fragment_buffer_is_bounded():
    """Orphan fragments on a long-lived stream must not grow the assembly
    buffer without bound: beyond the cap, oldest-inserted orphans evict."""
    orphans = [
        C.encode_static(257000000 + i, "SHIP", "CS", 84, "OSLO", seq_id=str(i))[0]
        for i in range(100)
    ]
    # a legit pair arriving AFTER the flood still assembles (its key is
    # fresh — eviction removes oldest, never the in-progress newest)
    pair = C.encode_static(257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES", seq_id="zz")
    msgs = list(C.decode_lines(orphans + pair))
    assert [m["shipname"] for m in msgs] == ["NORDIC STAR"]
    # the counterpart of an evicted orphan arrives too late: dropped
    # cleanly (fresh buffer, still incomplete) — no yield, no chimera
    late_second = C.encode_static(257000000, "SHIP", "CS", 84, "OSLO", seq_id="0")[1]
    assert list(C.decode_lines(orphans + [late_second])) == []


def test_class_b_static_parts_round_trip():
    a = C.encode_class_b_static(257000009, 0, shipname="FJORD QUEEN")
    (ma,) = list(C.decode_lines([a]))
    assert ma["msg_type"] == 24 and ma["shipname"] == "FJORD QUEEN"
    assert ma["callsign"] is None and ma["ship_type"] is None
    b = C.encode_class_b_static(257000009, 1, callsign="LBXQ", ship_type_code=60)
    (mb,) = list(C.decode_lines([b]))
    assert mb["msg_type"] == 24 and mb["callsign"] == "LBXQ"
    assert mb["ship_type"] == "Passenger" and mb["shipname"] is None


def test_unfielded_valid_types_emit_envelope_only():
    # a type-4 base-station report: the codec doesn't field-decode it,
    # but must emit (msg_type, mmsi) like pyais would — P1 drops it later
    n = 168
    bits = (4 << (n - 6)) | (123456789 << (n - 8 - 30))
    payload, fill = C.bits_to_payload(bits, n)
    body = f"AIVDM,1,1,,A,{payload},{fill}"
    line = f"!{body}*{C.nmea_checksum(body)}"
    (m,) = list(C.decode_lines([line]))
    assert m["msg_type"] == 4 and m["mmsi"] == 123456789
    assert m["lat"] is None and m["shipname"] is None


def test_sog_rule_cross_path_parity():
    """The native codec must emit the reference's integer speed for every
    raw SOG value, fractional knots included: pyais hands fractional
    knots (raw/10) to an Avro "int" field, whose writer cast TRUNCATES
    (producer-from-ais-api.py:67 + schemas/ship-position-event.avsc).
    Native codec: sog // 10. Feeds every fractional-knot raw value
    through a crafted type-1 sentence (the encoder only emits whole
    knots, so the payload is built raw here) and the simulated
    reference leg."""
    n = 168
    for raw in range(0, 1023):  # 1023 = not-available sentinel, excluded
        bits = 0

        def put(start, width, value):
            nonlocal bits
            bits |= (value & ((1 << width) - 1)) << (n - start - width)

        put(0, 6, 1)
        put(8, 30, 257000000)
        put(38, 4, 0)
        put(50, 10, raw)
        put(61, 28, int(round(10.0 * 600_000)))
        put(89, 27, int(round(60.0 * 600_000)))
        put(128, 9, 90)
        payload, fill = C.bits_to_payload(bits, n)
        native = C.decode_payload(payload, fill)["speed"]
        # reference leg: pyais's fractional knots -> the Avro int cast
        pyais_knots = raw / 10.0
        reference = int(pyais_knots)
        assert native == reference == raw // 10, (raw, native, reference)


# Exact sentences recorded from the per-encoder implementation that the
# layout table replaced: sentinels, negative coordinates, all three
# Class A types, both type-24 parts, text at and past the 7/20-char limit.
_GOLDEN = [
    (C.encode_position, (257000001, 60.1, 5.1, 12, 90), {},
     "!AIVDM,1,1,,A,13m62@@01p0GF90RHsH002l00000,0*4B"),
    (C.encode_position, (477553000, -47.58283, -122.34583, 0, 359),
     {"status": 5, "msg_type": 2, "receiver_ts": 1_700_000_000},
     "\\c:1700000000*5F\\!AIVDM,1,1,,A,277KQJ5000G?tOeTiMgP0;>00000,0*25"),
    (C.encode_position, (1073741823, -90.0, -180.0, 102, 0), {"status": 14, "msg_type": 3, "channel": "B"},
     "!AIVDM,1,1,,B,3?wwwwv0?tC81`1<P6P000000000,0*05"),
    (C.encode_position, (123, None, None, None, None), {"status": 15},
     "!AIVDM,1,1,,A,10000Nw0?w<tSF0l4Q@00?v00000,0*0B"),
    (C.encode_class_b_position, (257000009, -33.9, 151.2, 7, 45), {"receiver_ts": 1_700_000_001},
     "\\c:1700000001*5E\\!AIVDM,1,1,,B,B3m62B@0ARe2>0K9`f000FP00000,0*27"),
    (C.encode_class_b_position, (1, None, None, None, None), {"channel": "A"},
     "!AIVDM,1,1,,A,B00000@3wk?8mP=18D003wP00000,0*55"),
    (C.encode_class_b_static, (257000009, 0), {"shipname": "ABCDEFGHIJKLMNOPQRST", "receiver_ts": 1_700_000_002},
     "\\c:1700000002*5D\\!AIVDM,1,1,,A,H3m62B@48<@DHLPT`dhlpu159=@,2*45"),
    (C.encode_class_b_static, (257000009, 0), {"shipname": "fjord queen overlong name"},
     "!AIVDM,1,1,,A,H3m62B@H`u8B15DDDr0uHE8htpL,2*71"),
    (C.encode_class_b_static, (257000009, 1), {"callsign": "LBXQ123", "ship_type_code": 60},
     "!AIVDM,1,1,,A,H3m62BDt0000000<2HAijk000000,0*19"),
    (C.encode_class_b_static, (257000009, 1), {"callsign": None, "ship_type_code": 0, "channel": "B"},
     "!AIVDM,1,1,,B,H3m62BD000000000000000000000,0*01"),
    (C.encode_static, (257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES"), {"receiver_ts": 1_700_000_200},
     ["\\c:1700000200*5D\\!AIVDM,2,1,1,A,53m62@@00000h5P4000pu8@T>1=@58000000001D00,0*61",
      "!AIVDM,2,2,1,A,000000002jDRiCQDh000000000000,2*0C"]),
    (C.encode_static, (999999999, "ABCDEFGHIJKLMNOPQRST", "ABCDEFG", 99, "0123456789:;<=>?/-. "),
     {"seq_id": "7", "channel": "B"},
     ["!AIVDM,2,1,7,B,5>qc9wh0000048<@DHL48<@DHLPT`dhlpu159=AS00,0*0D",
      "!AIVDM,2,2,7,B,00000000<<Ldu=Mev>Nfw?OgssK`0,2*43"]),
    (C.encode_static, (0, None, None, 0, None), {"seq_id": "9"},
     ["!AIVDM,2,1,9,A,500000000000000000000000000000000000000000,0*19",
      "!AIVDM,2,2,9,A,00000000000000000000000000000,2*2D"]),
]


def test_encoders_emit_golden_sentences():
    for encode, args, kwargs, want in _GOLDEN:
        assert encode(*args, **kwargs) == want, (encode.__name__, args, kwargs)


def test_layout_table_is_consistent():
    """Every layout's fields (head included) are disjoint and inside its
    encoded length, and its decode guard is no longer than that length."""
    for key, layout in C._LAYOUTS.items():
        assert layout.min_bits <= layout.n_bits, key
        spans = sorted((f.start, f.start + f.width, f.name) for f in (*layout.head, *layout.fields))
        for (_, end, a), (start, _, b) in zip(spans, spans[1:]):
            assert end <= start, (key, a, b)
        assert spans[-1][1] <= layout.n_bits, key
        assert max(f.start + f.width for f in layout.fields) <= layout.min_bits, key


def test_reference_sentence_matches_published_decode():
    """External layout cross-check: a sentence published with its decode
    in the GPSd AIVDM/AIVDO protocol documentation (type 1, MMSI
    477553000, nav status Moored, SOG 0, position 122°20.75'W /
    47°34.97'N). Pins the bit offsets against the world, not just
    against our own encoder."""
    line = "!AIVDM,1,1,,B,177KQJ5000G?tO`K>RA1wUbN0TKH,0*5C"
    (m,) = list(C.decode_lines([line]))
    assert m["msg_type"] == 1
    assert m["mmsi"] == 477553000
    assert m["status"] == "Moored"
    assert m["speed"] == 0
    assert abs(m["lon"] - (-122.34583)) < 1e-4
    assert abs(m["lat"] - 47.58283) < 1e-4


def test_truncated_type5_degrades_to_envelope_not_crash():
    # n = 421 bits: one short of the destination field's last read — the
    # old `n >= 421` guard admitted it and raised on a negative shift;
    # it must now degrade to the (msg_type, mmsi) envelope
    frags = C.encode_static(123, "A", "B", 70, "C")
    payload = "".join(f.split(",")[5] for f in frags)
    assert C.payload_to_bits(payload, 5)[1] == 421
    m = C.decode_payload(payload, 5)
    assert m["msg_type"] == 5 and m["mmsi"] == 123
    assert m["shipname"] is None and m["destination"] is None


def _line(body: str) -> str:
    return f"!{body}*{C.nmea_checksum(body)}"


def test_invalid_armor_chars_drop_not_crash():
    # 'X'-'_' (88-95) are outside the armor alphabet; a corrupt payload
    # that happens to carry a valid XOR checksum must drop, not raise
    assert list(C.decode_lines([_line("AIVDM,1,1,,A,X5mZz,0")])) == []
    with __import__("pytest").raises(ValueError):
        C.armor_char_to_val("X")
    with __import__("pytest").raises(ValueError):
        C.armor_char_to_val("z")


def test_fragment_number_bounds_and_count_mismatch():
    frags = C.encode_static(257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES", seq_id="7")
    p1, p2 = (f.split(",")[5] for f in frags)
    # frag_num 0 (would hit frags[-1] via negative indexing) must drop
    bogus = _line(f"AIVDM,2,0,7,A,{p1},0")
    assert list(C.decode_lines([bogus])) == []
    # a frag_count mismatch on the same seq id resets the buffer instead
    # of assembling a chimera; the real pair then decodes normally
    stray = _line(f"AIVDM,3,1,7,A,{p1},0")
    msgs = list(C.decode_lines([stray, *frags]))
    assert len(msgs) == 1 and msgs[0]["shipname"] == "NORDIC STAR"


def test_decode_nmea_assembles_across_arrow_batches(spark):
    # fragment pairs straddling an Arrow batch boundary (NOT a partition
    # boundary) must still assemble: one decode_lines per partition
    lines = [C.encode_position(100 + i, 1.0, 2.0, 9, 10) for i in range(3)]
    lines += C.encode_static(257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES")
    lines += [C.encode_position(200 + i, 1.0, 2.0, 9, 10) for i in range(5)]
    from redpanda_ais_demo_spark.sources import ais_feed

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        df = spark.createDataFrame([(ln,) for ln in lines], "nmea string").coalesce(1)
        rows = ais_feed.decode_nmea(df).collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # the type-5 pair sat at rows 3-4, across the 4-row batch boundary
    assert [r.shipname for r in rows if r.msg_type == 5] == ["NORDIC STAR"]
    assert len(rows) == 9


def test_malformed_and_bad_checksum_drop():
    good = C.encode_position(1, 1.0, 2.0, 5, 10)
    bad_checksum = good[:-2] + "00"
    assert list(C.decode_lines([bad_checksum])) == []
    assert list(C.decode_lines(["garbage", "!AIVDM,oops", ""])) == []
    # truncated tag block
    assert list(C.decode_lines(["\\c:123" + good])) == []


def test_tag_block_checksum_validated():
    good = C.encode_position(9, 3.0, 4.0, 6, 20, receiver_ts=1_700_000_000)
    assert len(list(C.decode_lines([good]))) == 1
    # corrupt the tag-block checksum → whole line drops
    head, rest = good[1:].split("\\", 1)
    corrupted = "\\" + head[:-1] + ("0" if head[-1] != "0" else "1") + "\\" + rest
    assert list(C.decode_lines([corrupted])) == []


def test_streaming_wire_to_sink_with_native_codec(spark, tmp_path):
    """The reference's actual wire format end-to-end in one streaming
    DAG: codec-encoded AIVDM sentences (tag blocks, checksums, a
    two-fragment type 5) → NMEA replay DataSource → decode_nmea (native
    codec in the stream) → P1/P2 router → JSONL manifest sink."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.sources import ais_feed, jsonl_sink, nmea_datasource
    from redpanda_ais_demo_spark.streaming import ingest

    lines = []
    for i in range(20):
        lines.append(
            C.encode_position(
                257100000 + i, 60.0 + i * 0.01, 5.0 + i * 0.01, 10 + i, (i * 11) % 359,
                status=0, receiver_ts=1_700_000_000 + i,
            )
        )
    lines.extend(C.encode_static(257100000, "NORDIC STAR", "LAXA", 84, "KIRKENES",
                                 receiver_ts=1_700_000_050))
    log = tmp_path / "wire.nmea"
    log.write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "out")
    nmea_datasource.register(spark)
    jsonl_sink.register(spark)

    raw = (
        spark.readStream.format("nmea_replay")
        .option("path", str(log))
        # one partition per batch: fragment pairs stay adjacent for the
        # per-partition assembly buffer (see decode_nmea docstring)
        .option("numpartitions", "1")
        .load()
    )
    decoded = ais_feed.decode_nmea(raw.select("nmea"))
    routed = ingest.route_positions(decoded)
    q = (
        routed.writeStream.format("jsonl_manifest")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    schema = (
        "mmsi string, status string, timestamp long, "
        "location struct<lat:double,lon:double>, speed int, heading int"
    )
    rows = jsonl_sink.read_committed(spark, out, schema).collect()
    # all 20 positions survive (speeds 10..29 ⊂ (2,75)); the type 5 is
    # router-dropped from the position branch but decoded upstream
    assert sorted(int(r.mmsi) for r in rows) == [257100000 + i for i in range(20)]
    assert all(r.status == "UnderWayUsingEngine" for r in rows)
    # nested struct survives the JSONL round-trip (recursive asDict)
    first = min(rows, key=lambda r: int(r.mmsi))
    assert first.location.lat == 60.0 and first.location.lon == 5.0
    # and the info branch sees the assembled two-fragment static message
    info = ingest.route_ship_info(
        ais_feed.decode_nmea(
            spark.read.format("nmea_replay").option("path", str(log))
            .option("numpartitions", "1").load().select("nmea")
        )
    ).collect()
    assert len(info) == 1 and info[0].shipname == "NORDIC STAR"


def test_spark_decode_nmea_feeds_router(spark):
    """decode_nmea (native path) → route_positions/route_ship_info:
    the U2 kernel's output drives P1/P2 exactly like the fixture rows."""
    from pyspark.sql import functions as F

    from redpanda_ais_demo_spark.sources import ais_feed
    from redpanda_ais_demo_spark.streaming import ingest

    lines = [
        C.encode_position(257000001, 60.1, 5.1, 12, 90, status=0, receiver_ts=1_700_000_000),
        # speed 2 → dropped by P2's (2, 75) open interval
        C.encode_position(257000002, 59.0, 4.0, 2, 10, status=5, receiver_ts=1_700_000_000),
        # no tag block → dropped at S2
        C.encode_position(257000003, 61.0, 6.0, 20, 180),
        *C.encode_static(257000001, "NORDIC STAR", "LAXA", 84, "KIRKENES", receiver_ts=1_700_000_010),
        "not an nmea line",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "nmea string")
    decoded = ais_feed.decode_nmea(df.coalesce(1))
    pos = ingest.route_positions(decoded).collect()
    assert [r.mmsi for r in pos] == ["257000001"]
    assert pos[0].location.lat == 60.1 and pos[0].speed == 12
    info = ingest.route_ship_info(decoded).collect()
    assert len(info) == 1
    assert info[0].shipname == "NORDIC STAR" and info[0].shiptype == "Tanker"
    assert decoded.filter(F.col("msg_type") == 1).count() == 3  # all three type-1s decode
