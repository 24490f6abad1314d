"""MPEG-1 Layer III (MP3) codec — ISO/IEC 11172-3 §2.4.1.7 /
§2.4.2.7 / §2.4.3.4, decoded ALL THE WAY TO PCM within the vendored
Huffman-table family (decode_mp3_pcm).

Bitstream coverage, mono and stereo:

* the 32-bit frame header (layer code 0b01, Layer III bitrate table,
  optional CRC protection over the side information per §2.4.3.1);
* the COMPLETE side information: main_data_begin(9) +
  private_bits(5 mono / 3 stereo) + scfsi(4 per channel) + per
  granule-channel part2_3_length(12), big_values(9), global_gain(8),
  scalefac_compress(4), window_switching_flag(1), then either
  [block_type(2), mixed_block_flag(1), 2x table_select(5),
  3x subblock_gain(3)] or [3x table_select(5), region0_count(4),
  region1_count(3)], then preflag(1), scalefac_scale(1),
  count1table_select(1) — 59 bits per granule-channel, 136-bit mono /
  256-bit stereo side info total;
* scalefactor decoding for all four block layouts — long (21 bands:
  11 x slen1 + 10 x slen2), start/stop (long layout), short
  (12 bands x 3 windows: 18 x slen1 + 18 x slen2), mixed (8 long
  slen1 bands + short bands 3-11: 17 x slen1 + 18 x slen2) — with
  the published slen table for scalefac_compress 0-15 and scfsi
  scalefactor reuse (granule 2 skips band groups 0-5/6-10/11-15/16-20
  whose scfsi bit is set and copies granule 1's values);
* the count1 (quadruple) region under BOTH Huffman tables: table B
  (each quadruple (v,w,x,y) of 0/1 magnitudes coded as the 4-bit
  one's complement of v<<3|w<<2|x<<1|y) and table A (the variable-
  length 16-codeword prefix table, COUNT1_TABLE_A), each nonzero
  magnitude followed by one sign bit (1 = negative);
* the BIG-VALUES region: spec region partitioning (long blocks via
  region0_count/region1_count over the vendored Table B.8 long
  scalefactor-band boundaries for 32/44.1/48 kHz; window-switching
  blocks via the fixed 36-sample region0), per-region table_select,
  and Huffman encode+decode for tables 0-12 (table 0 = zero-bit
  all-zero region; 4 does not exist in the standard) with sign
  bits — BIGVALUE_TABLES, each validated as a complete prefix code.

PCM RECONSTRUCTION (the §2.4.3.4 decode flow, round 10): closed-form
requantization (|is|^(4/3), global_gain / scalefac_scale /
subblock_gain powers, preflag over the vendored pretab), short-block
reorder over the vendored Table B.8 short widths, alias-reduction
butterflies (the 8 printed Table B.9 ci -> cs/ca rotations,
energy-preservation pinned in tests), windowed IMDCT for all four
block types (36-point long/start/stop, 3x12-point short — every
window a closed-form sine expression; TDAC reconstruction at the
exact flat n/4 gain pinned in tests/test_mp3_pcm.py), overlap-add
with cross-frame state, frequency inversion, and the MPEG-1
polyphase synthesis with the vendored Table 3-B.3 window. The
multimodal_mp3_full_decode catalog entry hash-checks the WHOLE chain
against a SQL oracle that replays every stage relationally.

NOT covered — loud documented boundaries (docs/SCALE.md), every one
rejected with NotImplementedError/ValueError, never mis-decoded:

* big-values Huffman tables 13, 15 and the 16x16 ESC/linbits family
  16-31: 256 printed codewords EACH with no in-container
  cross-check — past the point where the Kraft/prefix-free
  structural validation that gates the vendored tables can be
  trusted to catch transcription error, so table_select pointing at
  them rejects loudly rather than risking a silently-wrong table.

The STEREO MATRIX is complete: M-S, LONG-block intensity, their
combination (all round 11), and SHORT/MIXED-block intensity with
per-window border detection (later in round 11, _joint_spectra) —
the only remaining Layer III boundary is the table family above.

The BIT RESERVOIR (§2.4.2.7) IS implemented at stream level:
parse_mp3_stream reconstructs the main-data byte stream across
frames and decodes each frame's part2/part3 from its
main_data_begin offset (underflow raises ValueError);
encode_mp3_stream lays main data across frame payloads with
spec-conformant stuffing that caps the reservoir at the 9-bit 511
limit. A STANDALONE frame with main_data_begin != 0 remains
undecodable by parse_mp3_frame (its predecessors' bytes are simply
absent) and stays a loud boundary there.

The encoder here is fixture synthesis only (same discipline as
mpegaudio.py): it takes the compressed-domain integers and packs a
spec-compliant frame so the parser can be verified round-trip and
against a digest-arithmetic oracle.

Reference parity: the reference repo (cam-etl) contains no audio
decoding at all; this extends the engine's multimodal surface
(SURVEY.md §2.8) beyond reference scope.
"""

from __future__ import annotations

import math

from cam_etl_spark.multimodal import micro6
from cam_etl_spark.multimodal.mpegaudio import (
    _BitReader,
    _BitWriter,
    _crc16_feed_bits,
    frame_bytes,
)

#: Layer III MPEG-1 bitrates (kbps), index 1-14 in the header.
BITRATES_L3 = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]

#: scalefac_compress 0-15 -> (slen1, slen2) scalefactor bit lengths.
SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]

#: scfsi band groups over the 21 long scalefactor bands.
SCFSI_GROUPS = [(0, 6), (6, 11), (11, 16), (16, 21)]

#: Long-block scalefactor band boundaries (sample index of each band
#: start, 22 bands + the 576 end), per sample rate — the spec's Table
#: B.8 long layouts. Big-values REGION boundaries index into these:
#: region1 starts at band [region0_count + 1], region2 at band
#: [region0_count + region1_count + 2]. Invariants pinned in
#: tests/test_mp3.py: 23 entries, 0 start, 576 end, strictly
#: increasing, first six widths 4 (all three rates).
SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}

#: Big-values Huffman code tables (ISO 11172-3 Table B.7), the
#: non-ESC tables 0-12: id -> (dim, {(|x|, |y|): (hlen, hcod)}).
#: Table 0 codes an all-zero region with ZERO bits (handled in
#: code); table 4 does not exist in the standard. Each vendored
#: table is validated in tests/test_mp3.py + test_mp3_bigvalues.py
#: as a COMPLETE prefix code — Kraft sum exactly 1 AND no codeword a
#: prefix of another, checked over the (hlen, hcod) PAIRS jointly —
#: a structural property a mis-transcribed table almost surely
#: breaks (tables 5-12 were accepted ONLY after passing it; variants
#: off by a single entry demonstrably fail). Tables 13/15 and the
#: 16x16 ESC/linbits family 16-31 are NOT vendored: 256 printed
#: codewords each is past the point where the structural check can
#: be trusted to catch transcription error, so they stay a loud
#: boundary rather than risk a silently-wrong table (same honesty
#: rule as the rest of the codec layer).
BIGVALUE_TABLES: dict[int, tuple[int, dict[tuple[int, int], tuple[int, int]]]] = {
    1: (2, {
        (0, 0): (1, 1), (0, 1): (3, 1), (1, 0): (2, 1), (1, 1): (3, 0),
    }),
    2: (3, {
        (0, 0): (1, 1), (0, 1): (3, 2), (0, 2): (6, 1),
        (1, 0): (3, 3), (1, 1): (3, 1), (1, 2): (5, 1),
        (2, 0): (5, 3), (2, 1): (5, 2), (2, 2): (6, 0),
    }),
    3: (3, {
        (0, 0): (2, 3), (0, 1): (2, 2), (0, 2): (6, 1),
        (1, 0): (3, 1), (1, 1): (2, 1), (1, 2): (5, 1),
        (2, 0): (5, 3), (2, 1): (5, 2), (2, 2): (6, 0),
    }),
    5: (4, {
        (0, 0): (1, 1), (0, 1): (3, 2), (0, 2): (6, 6), (0, 3): (7, 5),
        (1, 0): (3, 3), (1, 1): (3, 1), (1, 2): (6, 4), (1, 3): (7, 4),
        (2, 0): (6, 7), (2, 1): (6, 5), (2, 2): (7, 7), (2, 3): (8, 1),
        (3, 0): (7, 6), (3, 1): (6, 1), (3, 2): (7, 1), (3, 3): (8, 0),
    }),
    6: (4, {
        (0, 0): (3, 7), (0, 1): (3, 3), (0, 2): (5, 5), (0, 3): (7, 1),
        (1, 0): (3, 6), (1, 1): (2, 2), (1, 2): (4, 3), (1, 3): (5, 2),
        (2, 0): (4, 5), (2, 1): (4, 4), (2, 2): (5, 4), (2, 3): (6, 1),
        (3, 0): (6, 3), (3, 1): (5, 3), (3, 2): (6, 2), (3, 3): (7, 0),
    }),
    7: (6, {
        (0, 0): (1, 1), (0, 1): (3, 2), (0, 2): (6, 10),
        (0, 3): (8, 19), (0, 4): (8, 16), (0, 5): (9, 10),
        (1, 0): (3, 3), (1, 1): (4, 3), (1, 2): (6, 7),
        (1, 3): (7, 10), (1, 4): (7, 5), (1, 5): (8, 3),
        (2, 0): (6, 11), (2, 1): (5, 4), (2, 2): (7, 13),
        (2, 3): (8, 17), (2, 4): (8, 8), (2, 5): (9, 4),
        (3, 0): (7, 12), (3, 1): (7, 11), (3, 2): (8, 18),
        (3, 3): (9, 15), (3, 4): (9, 11), (3, 5): (9, 2),
        (4, 0): (7, 7), (4, 1): (7, 6), (4, 2): (8, 9),
        (4, 3): (9, 14), (4, 4): (9, 3), (4, 5): (10, 1),
        (5, 0): (8, 6), (5, 1): (8, 4), (5, 2): (9, 5),
        (5, 3): (10, 3), (5, 4): (10, 2), (5, 5): (10, 0),
    }),
    8: (6, {
        (0, 0): (2, 3), (0, 1): (3, 4), (0, 2): (6, 6),
        (0, 3): (8, 18), (0, 4): (8, 12), (0, 5): (9, 5),
        (1, 0): (3, 5), (1, 1): (2, 1), (1, 2): (4, 2),
        (1, 3): (8, 16), (1, 4): (8, 9), (1, 5): (8, 3),
        (2, 0): (6, 7), (2, 1): (4, 3), (2, 2): (6, 5),
        (2, 3): (8, 14), (2, 4): (8, 7), (2, 5): (9, 3),
        (3, 0): (8, 19), (3, 1): (8, 17), (3, 2): (8, 15),
        (3, 3): (9, 13), (3, 4): (9, 10), (3, 5): (10, 4),
        (4, 0): (8, 13), (4, 1): (7, 5), (4, 2): (8, 8),
        (4, 3): (9, 11), (4, 4): (10, 5), (4, 5): (10, 1),
        (5, 0): (9, 12), (5, 1): (8, 4), (5, 2): (9, 4),
        (5, 3): (9, 1), (5, 4): (11, 1), (5, 5): (11, 0),
    }),
    9: (6, {
        (0, 0): (3, 7), (0, 1): (3, 5), (0, 2): (5, 9),
        (0, 3): (6, 14), (0, 4): (8, 15), (0, 5): (9, 7),
        (1, 0): (3, 6), (1, 1): (3, 4), (1, 2): (4, 5), (1, 3): (5, 5),
        (1, 4): (6, 6), (1, 5): (8, 7),
        (2, 0): (4, 7), (2, 1): (4, 6), (2, 2): (5, 8), (2, 3): (6, 8),
        (2, 4): (7, 8), (2, 5): (8, 5),
        (3, 0): (6, 15), (3, 1): (5, 6), (3, 2): (6, 9),
        (3, 3): (7, 10), (3, 4): (7, 5), (3, 5): (8, 1),
        (4, 0): (7, 11), (4, 1): (6, 7), (4, 2): (7, 9),
        (4, 3): (7, 6), (4, 4): (8, 4), (4, 5): (9, 1),
        (5, 0): (8, 14), (5, 1): (7, 4), (5, 2): (8, 6),
        (5, 3): (8, 2), (5, 4): (9, 6), (5, 5): (9, 0),
    }),
    10: (8, {
        (0, 0): (1, 1), (0, 1): (3, 2), (0, 2): (6, 10),
        (0, 3): (8, 23), (0, 4): (9, 35), (0, 5): (9, 30),
        (0, 6): (9, 12), (0, 7): (10, 17),
        (1, 0): (3, 3), (1, 1): (4, 3), (1, 2): (6, 8),
        (1, 3): (7, 12), (1, 4): (8, 18), (1, 5): (9, 21),
        (1, 6): (8, 12), (1, 7): (8, 7),
        (2, 0): (6, 11), (2, 1): (6, 9), (2, 2): (7, 15),
        (2, 3): (8, 21), (2, 4): (9, 32), (2, 5): (10, 40),
        (2, 6): (9, 19), (2, 7): (9, 6),
        (3, 0): (7, 14), (3, 1): (7, 13), (3, 2): (8, 22),
        (3, 3): (9, 34), (3, 4): (10, 46), (3, 5): (10, 23),
        (3, 6): (9, 18), (3, 7): (10, 7),
        (4, 0): (8, 20), (4, 1): (8, 19), (4, 2): (9, 33),
        (4, 3): (10, 47), (4, 4): (10, 27), (4, 5): (10, 22),
        (4, 6): (10, 9), (4, 7): (10, 3),
        (5, 0): (9, 31), (5, 1): (9, 22), (5, 2): (10, 41),
        (5, 3): (10, 26), (5, 4): (11, 21), (5, 5): (11, 20),
        (5, 6): (10, 5), (5, 7): (11, 3),
        (6, 0): (8, 14), (6, 1): (8, 13), (6, 2): (9, 10),
        (6, 3): (10, 11), (6, 4): (10, 16), (6, 5): (10, 6),
        (6, 6): (11, 5), (6, 7): (11, 1),
        (7, 0): (9, 9), (7, 1): (8, 8), (7, 2): (9, 7),
        (7, 3): (10, 8), (7, 4): (10, 4), (7, 5): (11, 4),
        (7, 6): (11, 2), (7, 7): (11, 0),
    }),
    11: (8, {
        (0, 0): (2, 3), (0, 1): (3, 4), (0, 2): (5, 10),
        (0, 3): (7, 24), (0, 4): (8, 34), (0, 5): (9, 33),
        (0, 6): (8, 21), (0, 7): (9, 15),
        (1, 0): (3, 5), (1, 1): (3, 3), (1, 2): (4, 4),
        (1, 3): (6, 10), (1, 4): (8, 32), (1, 5): (8, 17),
        (1, 6): (7, 11), (1, 7): (8, 10),
        (2, 0): (5, 11), (2, 1): (5, 7), (2, 2): (6, 13),
        (2, 3): (7, 18), (2, 4): (8, 30), (2, 5): (8, 31),
        (2, 6): (8, 20), (2, 7): (8, 5),
        (3, 0): (7, 25), (3, 1): (6, 11), (3, 2): (7, 19),
        (3, 3): (9, 59), (3, 4): (8, 27), (3, 5): (10, 18),
        (3, 6): (8, 12), (3, 7): (9, 5),
        (4, 0): (8, 35), (4, 1): (8, 33), (4, 2): (9, 31),
        (4, 3): (9, 58), (4, 4): (9, 30), (4, 5): (10, 16),
        (4, 6): (9, 7), (4, 7): (10, 5),
        (5, 0): (8, 28), (5, 1): (8, 26), (5, 2): (9, 32),
        (5, 3): (10, 19), (5, 4): (10, 17), (5, 5): (11, 15),
        (5, 6): (10, 8), (5, 7): (11, 14),
        (6, 0): (8, 14), (6, 1): (7, 12), (6, 2): (7, 9),
        (6, 3): (8, 13), (6, 4): (9, 14), (6, 5): (10, 9),
        (6, 6): (10, 4), (6, 7): (10, 1),
        (7, 0): (8, 11), (7, 1): (7, 4), (7, 2): (8, 6),
        (7, 3): (9, 6), (7, 4): (10, 6), (7, 5): (10, 3),
        (7, 6): (10, 2), (7, 7): (10, 0),
    }),
    12: (8, {
        (0, 0): (4, 9), (0, 1): (3, 6), (0, 2): (5, 16),
        (0, 3): (7, 33), (0, 4): (8, 41), (0, 5): (9, 39),
        (0, 6): (9, 38), (0, 7): (9, 26),
        (1, 0): (3, 7), (1, 1): (3, 5), (1, 2): (4, 6), (1, 3): (5, 9),
        (1, 4): (7, 23), (1, 5): (7, 16), (1, 6): (8, 26),
        (1, 7): (8, 11),
        (2, 0): (5, 17), (2, 1): (4, 7), (2, 2): (5, 11),
        (2, 3): (6, 14), (2, 4): (7, 21), (2, 5): (8, 30),
        (2, 6): (7, 10), (2, 7): (8, 7),
        (3, 0): (6, 17), (3, 1): (5, 10), (3, 2): (6, 15),
        (3, 3): (6, 12), (3, 4): (7, 18), (3, 5): (8, 28),
        (3, 6): (8, 14), (3, 7): (8, 5),
        (4, 0): (7, 32), (4, 1): (6, 13), (4, 2): (7, 22),
        (4, 3): (7, 19), (4, 4): (8, 18), (4, 5): (8, 16),
        (4, 6): (8, 9), (4, 7): (9, 5),
        (5, 0): (8, 40), (5, 1): (7, 17), (5, 2): (8, 31),
        (5, 3): (8, 29), (5, 4): (8, 17), (5, 5): (9, 13),
        (5, 6): (8, 4), (5, 7): (9, 2),
        (6, 0): (8, 27), (6, 1): (7, 12), (6, 2): (7, 11),
        (6, 3): (8, 15), (6, 4): (8, 10), (6, 5): (9, 7),
        (6, 6): (9, 4), (6, 7): (10, 1),
        (7, 0): (9, 27), (7, 1): (8, 12), (7, 2): (8, 8),
        (7, 3): (9, 12), (7, 4): (9, 6), (7, 5): (9, 3),
        (7, 6): (9, 1), (7, 7): (10, 0),
    }),
}

#: count1 Huffman table A (ISO 11172-3 Table B.7 "A"): quadruple
#: bit-pattern v<<3|w<<2|x<<1|y -> (hlen, hcod). Complete prefix code
#: (Kraft sum 1), validated in tests/test_mp3.py. Table B (the 4-bit
#: one's-complement fixed-length table) is handled inline.
COUNT1_TABLE_A: dict[int, tuple[int, int]] = {
    0: (1, 1), 1: (4, 5), 2: (4, 4), 3: (5, 5),
    4: (4, 6), 5: (6, 5), 6: (5, 4), 7: (6, 4),
    8: (4, 7), 9: (5, 3), 10: (5, 6), 11: (6, 0),
    12: (5, 7), 13: (6, 2), 14: (6, 3), 15: (6, 1),
}


def _huffman_inverse(table: dict) -> dict[tuple[int, int], object]:
    """(hlen, hcod) -> key map for bit-by-bit prefix decoding."""
    return {(hl, hc): k for k, (hl, hc) in table.items()}


def _read_code(r: "_BitReader", inv: dict, bits_left: int,
               what: str) -> tuple[object, int]:
    """Read one prefix codeword; returns (decoded key, bits used)."""
    cur = 0
    for n in range(1, 24):
        if bits_left < n:
            raise ValueError(f"mp3: {what} codeword overruns "
                             "part2_3_length")
        cur = (cur << 1) | r.read(1)
        key = inv.get((n, cur))
        if key is not None:
            return key, n
    raise ValueError(f"mp3: invalid {what} codeword")


def bigvalue_regions(g: dict, sample_rate: int) -> list[int]:
    """Sample-index boundaries [0, r1, r2, big_values*2] of the three
    big-values regions (spec 2.4.2.7): long blocks index the long
    scalefactor-band table with region0_count/region1_count; blocks
    with window_switching_flag set use the fixed 36-sample region0
    and have no region2."""
    n = g["big_values"] * 2
    if g["block_type"] != 0 or g.get("region0_count") is None:
        return [0, min(36, n), n, n]
    sfb = SFB_LONG[sample_rate]
    r1 = sfb[min(g["region0_count"] + 1, len(sfb) - 1)]
    r2 = sfb[min(g["region0_count"] + g["region1_count"] + 2,
                 len(sfb) - 1)]
    return [0, min(r1, n), min(max(r2, r1), n), n]


def _encode_big_values(main: "_BitWriter", g: dict,
                       sample_rate: int) -> int:
    """Write the big-values region; returns the bit count. ``g`` must
    carry ``pairs`` (signed (x, y), |magnitude| < the selected
    table's dim) and the side-info region/table fields."""
    pairs = g.get("pairs") or []
    g["big_values"] = len(pairs)
    if len(pairs) > 288:
        raise ValueError("mp3: big_values exceeds 288 pairs")
    bounds = bigvalue_regions(g, sample_rate)
    bits = 0
    for i, (x, y) in enumerate(pairs):
        s = 2 * i
        region = 0 if s < bounds[1] else (1 if s < bounds[2] else 2)
        tid = g["table_select"][region]
        ax, ay = abs(x), abs(y)
        if tid == 0:
            if ax or ay:
                raise ValueError(
                    "mp3: table 0 selected for a nonzero big-values "
                    "pair"
                )
            continue
        if tid not in BIGVALUE_TABLES:
            raise NotImplementedError(
                f"mp3: big-values Huffman table {tid} not vendored "
                "(tables 0-12 supported; 13/15 and the ESC/linbits "
                "family 16-31 are a loud boundary)"
            )
        dim, codes = BIGVALUE_TABLES[tid]
        if ax >= dim or ay >= dim:
            raise ValueError(
                f"mp3: |value| {max(ax, ay)} exceeds table {tid} "
                f"maximum {dim - 1}"
            )
        hlen, hcod = codes[(ax, ay)]
        main.write(hcod, hlen)
        bits += hlen
        for v in (x, y):
            if v:
                main.write(1 if v < 0 else 0, 1)
                bits += 1
    return bits


def _decode_big_values(r: "_BitReader", g: dict, sample_rate: int,
                       bits_left: int) -> tuple[list, int]:
    """Read big_values pairs back; returns (pairs, bits consumed)."""
    bounds = bigvalue_regions(g, sample_rate)
    inv_cache: dict[int, dict] = {}
    pairs: list[tuple[int, int]] = []
    used = 0
    for i in range(g["big_values"]):
        s = 2 * i
        region = 0 if s < bounds[1] else (1 if s < bounds[2] else 2)
        tid = g["table_select"][region]
        if tid == 0:
            pairs.append((0, 0))
            continue
        if tid not in BIGVALUE_TABLES:
            raise NotImplementedError(
                f"mp3: big-values Huffman table {tid} not vendored "
                "(tables 0-12 supported; 13/15 and the ESC/linbits "
                "family 16-31 are a loud boundary)"
            )
        if tid not in inv_cache:
            inv_cache[tid] = _huffman_inverse(BIGVALUE_TABLES[tid][1])
        (ax, ay), n = _read_code(r, inv_cache[tid], bits_left - used,
                                 f"big-values table {tid}")
        used += n
        out = []
        for m in (ax, ay):
            if m:
                if bits_left - used < 1:
                    raise ValueError(
                        "mp3: big-values sign bit overruns "
                        "part2_3_length"
                    )
                m = -m if r.read(1) else m
                used += 1
            out.append(m)
        pairs.append((out[0], out[1]))
    return pairs, used


def _sr_index(sample_rate: int) -> int:
    idx = {44100: 0b00, 48000: 0b01, 32000: 0b10}.get(sample_rate)
    if idx is None:
        raise ValueError(f"bad MPEG-1 sample rate {sample_rate}")
    return idx


def mp3_header(
    bitrate_kbps: int,
    sample_rate: int,
    nch: int,
    padding: bool = False,
    crc: bool = False,
    ms: bool = False,
    intensity: bool = False,
) -> int:
    """32-bit Layer III header. Mono, plain stereo, or joint stereo
    with mode_extension bit 1 = M-S (``ms``) and bit 0 = intensity
    (``intensity``) — any combination. Dual channel is a documented
    boundary."""
    try:
        br_idx = BITRATES_L3.index(bitrate_kbps) + 1
    except ValueError:
        raise ValueError(f"layer 3: bad bitrate {bitrate_kbps} kbps")
    joint = ms or intensity
    if joint and nch != 2:
        raise ValueError("layer 3: joint stereo needs 2 channels")
    mode_code = 0b01 if joint else (0b11 if nch == 1 else 0b00)
    mode_ext = (0b10 if ms else 0) | (0b01 if intensity else 0)
    # sync(12) ID(1)=1 layer(2)=01 protection(1) bitrate(4) fs(2)
    # padding(1) private(1) mode(2) mode_ext(2) copyright original emphasis
    return (
        (0xFFF << 20) | (1 << 19) | (0b01 << 17)
        | (0 if crc else (1 << 16))
        | (br_idx << 12) | (_sr_index(sample_rate) << 10)
        | ((1 << 9) if padding else 0) | (mode_code << 6)
        | (mode_ext << 4)
    )


def scalefac_layout(block_type: int, mixed: int) -> list[tuple[str, int]]:
    """The ordered scalefactor slots of one granule-channel as
    (kind, slen_selector) pairs, kind 'long'/'short', selector 1 or 2
    (slen1/slen2). Long layout also applies to start/stop blocks."""
    if block_type != 2:
        return [("long", 1 if b < 11 else 2) for b in range(21)]
    if mixed:
        return (
            [("long", 1) for _ in range(8)]
            + [("short", 1 if b < 6 else 2) for b in range(3, 12)
               for _ in range(3)]
        )
    return [("short", 1 if b < 6 else 2) for b in range(12)
            for _ in range(3)]


def _granule_side_bits(w: _BitWriter, g: dict) -> None:
    w.write(g["part2_3_length"], 12)
    w.write(g["big_values"], 9)
    w.write(g["global_gain"], 8)
    w.write(g["scalefac_compress"], 4)
    if g["block_type"] != 0:
        w.write(1, 1)  # window_switching_flag
        w.write(g["block_type"], 2)
        w.write(g["mixed_block_flag"], 1)
        for t in g["table_select"][:2]:
            w.write(t, 5)
        for sg in g["subblock_gain"]:
            w.write(sg, 3)
    else:
        w.write(0, 1)
        for t in g["table_select"][:3]:
            w.write(t, 5)
        w.write(g["region0_count"], 4)
        w.write(g["region1_count"], 3)
    w.write(g["preflag"], 1)
    w.write(g["scalefac_scale"], 1)
    w.write(g["count1table_select"], 1)


def part2_bits(g: dict, scfsi: int, granule: int) -> int:
    slen1, slen2 = SLEN[g["scalefac_compress"]]
    slens = [slen1 if sel == 1 else slen2
             for _, sel in scalefac_layout(g["block_type"],
                                           g["mixed_block_flag"])]
    if granule == 1 and g["block_type"] != 2 and scfsi:
        for gi, (lo, hi) in enumerate(SCFSI_GROUPS):
            if (scfsi >> (3 - gi)) & 1:
                for b in range(lo, hi):
                    slens[b] = 0
    return sum(slens)


def _frame_side_main(
    granules: list[list[dict]], main_data_begin: int = 0,
    sample_rate: int = 48000,
) -> tuple[bytes, bytes]:
    """Build one frame's side-info bytes (with the given
    main_data_begin) and its byte-aligned main-data blob. Shared by
    the single-frame packer (begin always 0) and the reservoir-aware
    stream packer."""
    nch = len(granules[0])
    w = _BitWriter()
    if not 0 <= main_data_begin < 512:
        raise ValueError(f"main_data_begin {main_data_begin} out of range")
    w.write(main_data_begin, 9)
    w.write(0, 5 if nch == 1 else 3)    # private_bits
    scfsi_ch = []
    for ch in range(nch):
        scfsi = granules[0][ch].get("scfsi", 0)
        if any(granules[gr][ch]["block_type"] == 2 for gr in range(2)):
            if scfsi:
                raise ValueError("scfsi requires long layout in both "
                                 "granules")
        scfsi_ch.append(scfsi)
        w.write(scfsi, 4)
    main = _BitWriter()
    for gr in range(2):
        for ch in range(nch):
            g = granules[gr][ch]
            g.setdefault("count1table_select", 1)
            layout = scalefac_layout(g["block_type"],
                                     g["mixed_block_flag"])
            slen1, slen2 = SLEN[g["scalefac_compress"]]
            sent = _transmitted_slots(g, scfsi_ch[ch], gr)
            if len(g["scalefacs"]) != len(sent):
                raise ValueError(
                    f"granule {gr} ch {ch}: {len(g['scalefacs'])} "
                    f"scalefactors, layout transmits {len(sent)}"
                )
            for v, slot in zip(g["scalefacs"], sent):
                slen = slen1 if layout[slot][1] == 1 else slen2
                if v < 0 or v >= (1 << slen):
                    raise ValueError(f"scalefactor {v} exceeds "
                                     f"slen {slen}")
                main.write(v, slen)
            bv_bits = _encode_big_values(main, g, sample_rate)
            c1_bits = 0
            for q in g["quads"]:
                mag = 0
                for v in q:
                    if abs(v) > 1:
                        raise ValueError("count1 magnitudes are 0/1")
                    mag = (mag << 1) | (1 if v else 0)
                if g["count1table_select"] == 0:
                    hlen, hcod = COUNT1_TABLE_A[mag]
                    main.write(hcod, hlen)
                    c1_bits += hlen
                else:
                    main.write(mag ^ 0xF, 4)  # table B: one's compl.
                    c1_bits += 4
                for v in q:
                    if v:
                        main.write(1 if v < 0 else 0, 1)
                        c1_bits += 1
            # optional trailing stuffing INSIDE part2_3_length (what
            # real encoders emit to hit a bit-rate target); decoders
            # discard the overrunning pseudo-codeword these form
            sv, sn = g.get("stuffing", (0, 0))
            if sn:
                main.write(sv, sn)
            g["part2_3_length"] = (
                part2_bits(g, scfsi_ch[ch], gr) + bv_bits + c1_bits
                + sn
            )
            _granule_side_bits(w, g)
    w.align()
    main.align()
    return bytes(w.out), bytes(main.out)


def encode_mp3_frame(
    granules: list[list[dict]],
    sample_rate: int = 48000,
    bitrate_kbps: int = 128,
    crc: bool = False,
    ms: bool = False,
    intensity: bool = False,
) -> bytes:
    """Pack one Layer III frame. ``granules[gr][ch]`` carries the
    side-info fields plus ``scalefacs`` (ints, one per layout slot; for
    granule 1 under scfsi only the TRANSMITTED slots, i.e. reused
    groups omitted) and ``quads`` (list of signed (v,w,x,y), each in
    {-1,0,1}). part2_3_length/big_values/count1table_select are
    derived, not caller-supplied. main_data_begin is 0 — a lone frame
    cannot borrow reservoir bytes; see encode_mp3_stream."""
    nch = len(granules[0])
    side, main = _frame_side_main(granules, 0, sample_rate)
    total = frame_bytes(3, bitrate_kbps, sample_rate)
    hdr = mp3_header(bitrate_kbps, sample_rate, nch, crc=crc, ms=ms,
                     intensity=intensity)
    out = hdr.to_bytes(4, "big")
    if crc:
        c = 0xFFFF
        c = _crc16_feed_bits(c, hdr.to_bytes(4, "big"), 16, 16)
        c = _crc16_feed_bits(c, side, 0, len(side) * 8)
        out += c.to_bytes(2, "big")
    out += side + main
    if len(out) > total:
        raise ValueError(f"frame overflow: {len(out)} > {total} bytes")
    return out + b"\x00" * (total - len(out))


def encode_mp3_stream(
    frames: list[list[list[dict]]],
    sample_rate: int = 48000,
    bitrate_kbps: int = 64,
    ms: bool = False,
    intensity: bool = False,
) -> bytes:
    """Pack a multi-frame Layer III stream USING THE BIT RESERVOIR
    (§2.4.2.7): all frames' main data is laid out as one contiguous
    byte stream across the frames' payload areas, so a frame whose
    main data is shorter than its payload leaves reservoir bytes that
    the NEXT frame's main_data_begin points back into. Each frame's
    main data starts on a byte boundary (the gap is stuffing, as the
    spec allows). Raises if a frame's offset exceeds the 9-bit 511
    limit or its main data would not be complete by the end of its
    own frame (a compliant encoder must never emit either)."""
    sides = []
    mains = []
    for granules in frames:
        side, main = _frame_side_main(granules, 0, sample_rate)  # side rebuilt with
        sides.append(side)                          # real begin below
        mains.append(main)
    nch = len(frames[0][0])
    total = frame_bytes(3, bitrate_kbps, sample_rate)
    cap = total - 4 - len(sides[0])
    payload = bytearray(cap * len(frames))
    begins = []
    start = 0  # offset of next frame's main data in the payload stream
    for i in range(len(frames)):
        # the reservoir is capped at 511 bytes (9-bit field): when the
        # accumulated slack exceeds it, stuff — skip payload bytes so
        # the next frame's main data starts within reach (decoders
        # never look at stuffed bytes; §2.4.2.7 allows them)
        start = max(start, i * cap - 511)
        begin = i * cap - start
        if begin < 0:
            raise ValueError(
                f"frame {i}: main data overruns its own frame "
                f"({-begin} bytes late)"
            )
        end = start + len(mains[i])
        if end > (i + 1) * cap:
            raise ValueError(
                f"frame {i}: main data not complete within its frame"
            )
        payload[start:end] = mains[i]
        begins.append(begin)
        start = end
    # emit only after EVERY frame's main data is placed — a frame that
    # borrows reservoir bytes writes into its predecessors' payload
    out = bytearray()
    for i, granules in enumerate(frames):
        side, _ = _frame_side_main(granules, begins[i], sample_rate)
        hdr = mp3_header(bitrate_kbps, sample_rate, nch, ms=ms,
                         intensity=intensity)
        out += hdr.to_bytes(4, "big") + side
        out += payload[i * cap : (i + 1) * cap]
    return bytes(out)


def _transmitted_slots(g: dict, scfsi: int, granule: int) -> list[int]:
    """Indices into the layout of the slots actually in the bitstream
    (granule 1 skips scfsi-reused long band groups)."""
    layout = scalefac_layout(g["block_type"], g["mixed_block_flag"])
    if granule == 0 or g["block_type"] == 2 or not scfsi:
        return list(range(len(layout)))
    skip = set()
    for gi, (lo, hi) in enumerate(SCFSI_GROUPS):
        if (scfsi >> (3 - gi)) & 1:
            skip.update(range(lo, hi))
    return [i for i in range(len(layout)) if i not in skip]


def _parse_frame_shell(buf: bytes, pos: int = 0) -> dict:
    """Header + (optional CRC) + side info of one frame, WITHOUT the
    main data. Returns the parsed fields plus the payload region
    [payload_start, frame_end) — the bytes that feed the reservoir."""
    if len(buf) < pos + 4:
        raise ValueError("parse_mp3_frame: truncated header")
    base = pos
    hdr = int.from_bytes(buf[base : base + 4], "big")
    if hdr >> 20 != 0xFFF or not (hdr >> 19) & 1:
        raise ValueError("parse_mp3_frame: bad syncword / not MPEG-1")
    if (hdr >> 17) & 0b11 != 0b01:
        raise ValueError("parse_mp3_frame: not Layer III")
    protected = not ((hdr >> 16) & 1)
    br_idx = (hdr >> 12) & 0xF
    if br_idx == 0 or br_idx == 0xF:
        raise NotImplementedError(
            "mp3: free-format / forbidden bitrate index"
        )
    bitrate = BITRATES_L3[br_idx - 1]
    fs = {0b00: 44100, 0b01: 48000, 0b10: 32000}.get((hdr >> 10) & 0b11)
    if fs is None:
        raise ValueError("parse_mp3_frame: reserved sample-rate code")
    mode = (hdr >> 6) & 0b11
    mode_ext = (hdr >> 4) & 0b11
    if mode == 0b10:
        raise NotImplementedError(
            "mp3: dual_channel mode not implemented"
        )
    if mode == 0b01 and mode_ext == 0b00:
        # joint with neither extension bit set decodes as plain
        # stereo per the spec (both channels transmitted in full) —
        # nothing extra to do, but name the case for clarity
        pass
    nch = 1 if mode == 0b11 else 2
    pos = base + 4
    if protected:
        stored = int.from_bytes(buf[base + 4 : base + 6], "big")
        pos = base + 6
    side_len = 17 if nch == 1 else 32
    side = buf[pos:pos + side_len]
    if len(side) < side_len:
        raise ValueError("parse_mp3_frame: truncated side info")
    if protected:
        c = 0xFFFF
        c = _crc16_feed_bits(c, buf[base : base + 4], 16, 16)
        c = _crc16_feed_bits(c, side, 0, side_len * 8)
        if c != stored:
            raise ValueError("parse_mp3_frame: crc_check mismatch")
    r = _BitReader(buf, pos)
    main_data_begin = r.read(9)
    private_bits = r.read(5 if nch == 1 else 3)
    scfsi_ch = [r.read(4) for _ in range(nch)]
    granules: list[list[dict]] = [[], []]
    for gr in range(2):
        for _ch in range(nch):
            g: dict = {
                "part2_3_length": r.read(12),
                "big_values": r.read(9),
                "global_gain": r.read(8),
                "scalefac_compress": r.read(4),
            }
            if r.read(1):  # window_switching_flag
                g["block_type"] = r.read(2)
                if g["block_type"] == 0:
                    raise ValueError(
                        "parse_mp3_frame: block_type 0 with "
                        "window_switching_flag set is forbidden"
                    )
                g["mixed_block_flag"] = r.read(1)
                g["table_select"] = [r.read(5) for _ in range(2)]
                g["subblock_gain"] = [r.read(3) for _ in range(3)]
                # region0_count=None routes bigvalue_regions to the
                # fixed 36-sample region0 that _decode_big_values uses
                # for window-switching blocks (no region2).
                g["region0_count"] = None
                g["region1_count"] = None
            else:
                g["block_type"] = 0
                g["mixed_block_flag"] = 0
                g["table_select"] = [r.read(5) for _ in range(3)]
                g["subblock_gain"] = [0, 0, 0]
                g["region0_count"] = r.read(4)
                g["region1_count"] = r.read(3)
            g["preflag"] = r.read(1)
            g["scalefac_scale"] = r.read(1)
            g["count1table_select"] = r.read(1)
            if g["big_values"] > 288:
                raise ValueError(
                    "parse_mp3_frame: big_values > 288 pairs"
                )
            granules[gr].append(g)
    payload_start = pos + side_len
    total = frame_bytes(3, bitrate, fs)
    if base + total > len(buf):
        raise ValueError("parse_mp3_frame: truncated frame body")
    return {
        "layer": 3,
        "sample_rate": fs,
        "bitrate_kbps": bitrate,
        "nch": nch,
        "mode": mode,
        "mode_ext": mode_ext,
        "protected": protected,
        "main_data_begin": main_data_begin,
        "private_bits": private_bits,
        "scfsi": scfsi_ch,
        "side_bits": (136 if nch == 1 else 256),
        "granules": granules,
        "frame_bytes": total,
        "payload_start": payload_start,
        "frame_end": base + total,
    }


def _parse_main_data(shell: dict, r: _BitReader) -> None:
    """Decode part2 (scalefactors) + part3 (count1 region) for every
    granule-channel from ``r`` — the reader sits at the frame's main
    data, whether that is in-frame (no reservoir) or inside the
    reconstructed reservoir byte stream."""
    granules = shell["granules"]
    scfsi_ch = shell["scfsi"]
    nch = shell["nch"]
    for gr in range(2):
        for ch in range(nch):
            g = granules[gr][ch]
            scfsi = scfsi_ch[ch]
            if scfsi and any(granules[x][ch]["block_type"] == 2
                             for x in range(2)):
                raise ValueError(
                    "parse_mp3_frame: scfsi set with short blocks"
                )
            layout = scalefac_layout(g["block_type"],
                                     g["mixed_block_flag"])
            slen1, slen2 = SLEN[g["scalefac_compress"]]
            bits_left = g["part2_3_length"]
            values: list[int] = []
            sent = set(_transmitted_slots(g, scfsi, gr))
            for i, (_kind, sel) in enumerate(layout):
                if i not in sent:
                    values.append(granules[0][ch]["scalefacs"][i])
                    continue
                slen = slen1 if sel == 1 else slen2
                if slen > bits_left:
                    raise ValueError(
                        "parse_mp3_frame: part2 overruns part2_3_length"
                    )
                values.append(r.read(slen))
                bits_left -= slen
            g["scalefacs"] = values
            pairs, used = _decode_big_values(
                r, g, shell["sample_rate"], bits_left
            )
            g["pairs"] = pairs
            bits_left -= used
            quads: list[tuple[int, int, int, int]] = []
            inv_a = (
                _huffman_inverse(COUNT1_TABLE_A)
                if g["count1table_select"] == 0
                else None
            )
            while bits_left >= (1 if inv_a else 4):
                if inv_a:
                    # bit-by-bit prefix read; the spec's decode
                    # convention treats a FINAL codeword that overruns
                    # part2_3_length as stuffing (real encoders pad) —
                    # discard it and end the region
                    cur = 0
                    n = 0
                    mag = None
                    while n < 24 and bits_left:
                        cur = (cur << 1) | r.read(1)
                        n += 1
                        bits_left -= 1
                        key = inv_a.get((n, cur))
                        if key is not None:
                            mag = key
                            break
                    if mag is None:
                        if not bits_left:
                            break  # overrunning final codeword
                        raise ValueError(
                            "parse_mp3_frame: invalid count1 table A "
                            "codeword"
                        )
                else:
                    mag = r.read(4) ^ 0xF
                    bits_left -= 4
                q = []
                overrun = False
                for shift in (3, 2, 1, 0):
                    m = (mag >> shift) & 1
                    if m:
                        if bits_left < 1:
                            # sign bits of the final quadruple overrun
                            # into stuffing: discard the quadruple
                            overrun = True
                            break
                        m = -1 if r.read(1) else 1
                        bits_left -= 1
                    q.append(m)
                if overrun:
                    break
                quads.append(tuple(q))
            if bits_left:
                # residual stuffing bits (< one count1 codeword);
                # consume them so the reservoir bit cursor stays
                # aligned for the next granule-channel
                r.read(bits_left)
                bits_left = 0
            g["quads"] = quads


def parse_mp3_frame(buf: bytes) -> dict:
    """Parse header + side info + scalefactors + count1 region of one
    STANDALONE Layer III frame. A lone frame with main_data_begin != 0
    is undecodable without its predecessors' reservoir bytes, so it
    stays a loud boundary here — parse_mp3_stream implements the
    reservoir across frames."""
    shell = _parse_frame_shell(buf, 0)
    if shell["main_data_begin"]:
        raise NotImplementedError(
            "mp3: bit reservoir (main_data_begin != 0) not implemented "
            "for a standalone frame — use parse_mp3_stream"
        )
    _parse_main_data(shell, _BitReader(buf, shell["payload_start"]))
    del shell["payload_start"], shell["frame_end"]
    return shell


def parse_mp3_stream(buf: bytes) -> list[dict]:
    """Parse a multi-frame Layer III stream WITH bit-reservoir
    support (§2.4.2.7): frames' payload areas concatenate into the
    main-data byte stream; each frame's main data starts
    main_data_begin bytes BEFORE the bytes its own frame contributed.
    A main_data_begin reaching before the start of the stream raises
    ValueError (reservoir underflow) — the spec forbids it."""
    shells = []
    reservoir = bytearray()
    pos = 0
    while pos < len(buf):
        shell = _parse_frame_shell(buf, pos)
        begin = shell["main_data_begin"]
        if begin > len(reservoir):
            raise ValueError(
                f"parse_mp3_stream: reservoir underflow — frame "
                f"{len(shells)} wants {begin} bytes, reservoir has "
                f"{len(reservoir)}"
            )
        shell["main_data_offset"] = len(reservoir) - begin
        reservoir += buf[shell["payload_start"] : shell["frame_end"]]
        pos = shell["frame_end"]
        shells.append(shell)
    blob = bytes(reservoir)
    for shell in shells:
        _parse_main_data(shell, _BitReader(blob, shell["main_data_offset"]))
        del shell["payload_start"], shell["frame_end"]
    return shells


# ---------------------------------------------------------------------------
# Subband reconstruction: requantize -> (reorder) -> alias reduce ->
# IMDCT + overlap-add -> frequency inversion -> polyphase synthesis.
# Everything below is CLOSED FORM from the spec (2.4.3.4.7 decode
# flow) except two tiny printed tables: the 8 alias-reduction
# coefficients ci (Table B.9) and the 21-entry preemphasis table
# (pretab) — both vendored with their values stated here so a reader
# can check them against the printed standard.
# ---------------------------------------------------------------------------

#: Table B.9 alias-reduction coefficients ci; the butterflies use
#: cs_i = 1/sqrt(1+ci^2), ca_i = ci*cs_i (closed form from these).
ALIAS_CI = (-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
            -0.0037)

#: preflag preemphasis per long scalefactor band (spec 2.4.3.4.7.1).
PRETAB = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3,
          2)

#: Short-block scalefactor band WIDTHS (13 bands, sum 192 = 576/3),
#: per sample rate — Table B.8 short layouts. Used for short-block
#: requantization banding and the reorder permutation. Invariants
#: pinned in tests: 13 widths, sum 192, first four = 4.
SFB_SHORT_WIDTHS = {
    44100: [4, 4, 4, 4, 6, 8, 10, 12, 14, 18, 22, 30, 56],
    48000: [4, 4, 4, 4, 6, 6, 10, 12, 14, 16, 20, 26, 66],
    32000: [4, 4, 4, 4, 6, 8, 12, 16, 20, 26, 34, 42, 12],
}


def _values_576(g: dict) -> list[int]:
    """Flatten one granule-channel's decoded integers onto the 576
    frequency lines: big-values pairs, then count1 quadruples, then
    the zero region."""
    out: list[int] = []
    for x, y in g.get("pairs", []):
        out.extend((x, y))
    for q in g.get("quads", []):
        out.extend(q)
    if len(out) > 576:
        raise ValueError("mp3: more than 576 decoded frequency lines")
    return out + [0] * (576 - len(out))


def requantize(g: dict, sample_rate: int) -> list[float]:
    """Spec 2.4.3.4.7.1: xr_i = sign(is_i) * |is_i|^(4/3) *
    2^((global_gain - 210)/4 [- 2*subblock_gain[w] for short]) *
    2^(-multiplier * (scalefac [+ preflag*pretab] )), with multiplier
    0.5 for scalefac_scale 0 (sqrt-2 steps) and 1.0 for 1."""
    vals = _values_576(g)
    mult = 0.5 * (1 + g["scalefac_scale"])
    gg = 2.0 ** (0.25 * (g["global_gain"] - 210))
    out = [0.0] * 576
    if g["block_type"] != 2:
        sfb_bounds = SFB_LONG[sample_rate]
        sfb = 0
        for i, v in enumerate(vals):
            while sfb < 21 and i >= sfb_bounds[sfb + 1]:
                sfb += 1
            sf = g["scalefacs"][sfb] if sfb < 21 else 0
            if g["preflag"] and sfb < 21:
                sf += PRETAB[sfb]
            if v:
                out[i] = (
                    (1.0 if v > 0 else -1.0)
                    * abs(v) ** (4.0 / 3.0)
                    * gg
                    * 2.0 ** (-mult * sf)
                )
        return out
    mixed = bool(g["mixed_block_flag"])
    if mixed:
        # MIXED block (2.4.3.4.7.1): lines 0-35 are LONG, under long
        # scalefactor bands 0-7 (layout slots 0-7; no subblock_gain,
        # PRETAB bands 0-7 are all zero but applied for generality)
        sfb_bounds = SFB_LONG[sample_rate]
        sfb = 0
        for i in range(36):
            while sfb < 21 and i >= sfb_bounds[sfb + 1]:
                sfb += 1
            sf = g["scalefacs"][sfb] if sfb < 8 else 0
            if g["preflag"] and sfb < 8:
                sf += PRETAB[sfb]
            v = vals[i]
            if v:
                out[i] = (
                    (1.0 if v > 0 else -1.0)
                    * abs(v) ** (4.0 / 3.0)
                    * gg
                    * 2.0 ** (-mult * sf)
                )
    # short: decoded order is sfb-major, window-minor; scalefacs are
    # the 36-slot short layout (12 bands x 3 windows) — or, mixed,
    # the 8-long + bands-3-11 layout (slots 8..34)
    widths = SFB_SHORT_WIDTHS[sample_rate]
    i = 0
    for sfb, w_width in enumerate(widths):
        if mixed and sfb < 3:
            i += 3 * w_width  # long region handled above
            continue
        for w in range(3):
            # the short layout transmits bands 0-11 (mixed: 3-11);
            # band 12 has no scalefactor (like the long band 21)
            if sfb >= 12:
                sf = 0
            elif mixed:
                sf = g["scalefacs"][8 + (sfb - 3) * 3 + w]
            else:
                sf = g["scalefacs"][sfb * 3 + w]
            scale = (
                gg
                * 2.0 ** (-2.0 * g["subblock_gain"][w])
                * 2.0 ** (-mult * sf)
            )
            for _ in range(w_width):
                if i >= 576:
                    break
                v = vals[i]
                if v:
                    out[i] = (
                        (1.0 if v > 0 else -1.0)
                        * abs(v) ** (4.0 / 3.0)
                        * scale
                    )
                i += 1
    return out


def reorder_short(xr: list[float], sample_rate: int,
                  mixed: bool = False) -> list[float]:
    """Short blocks arrive sfb-major (sfb, window, line); the filter
    bank needs subband order (window-interleaved within each band):
    out[base + 3*line + window] = in[base + window*width + line].
    MIXED blocks keep lines 0-35 (the LONG lower two subbands) in
    place and reorder only short bands 3+ — short bands 0-2 are
    3x4x3 = 36 lines at every rate, exactly the long region."""
    widths = SFB_SHORT_WIDTHS[sample_rate]
    out = [0.0] * 576
    base = 0
    for sfb, width in enumerate(widths):
        if mixed and sfb < 3:
            out[base : base + 3 * width] = xr[base : base + 3 * width]
        else:
            for w in range(3):
                for line in range(width):
                    out[base + 3 * line + w] = xr[
                        base + w * width + line
                    ]
        base += 3 * width
    return out


def alias_reduce(xr: list[float], boundaries: int = 31) -> list[float]:
    """Spec 2.4.3.4.7.2 butterflies across each of the 31 subband
    boundaries (long/start/stop blocks; MIXED blocks pass
    ``boundaries=1`` — only the seam between the two long lower
    subbands is aliased, the short region is not)."""
    out = list(xr)
    for sb in range(1, boundaries + 1):
        for i, ci in enumerate(ALIAS_CI):
            cs = 1.0 / (1.0 + ci * ci) ** 0.5
            ca = ci * cs
            lo = 18 * sb - 1 - i
            hi = 18 * sb + i
            a, b = out[lo], out[hi]
            out[lo] = a * cs - b * ca
            out[hi] = b * cs + a * ca
    return out


def imdct_window(block_type: int) -> list[float]:
    """The four closed-form IMDCT windows (spec 2.4.3.4.10.3)."""
    s36 = [math.sin(math.pi / 36 * (i + 0.5)) for i in range(36)]
    s12 = [math.sin(math.pi / 12 * (i + 0.5)) for i in range(12)]
    if block_type == 0:
        return s36
    if block_type == 1:  # start
        return (
            s36[:18]
            + [1.0] * 6
            + [s12[i - 24 + 6] for i in range(24, 30)]
            + [0.0] * 6
        )
    if block_type == 3:  # stop
        return (
            [0.0] * 6
            + [s12[i - 6] for i in range(6, 12)]
            + [1.0] * 6
            + s36[18:]
        )
    if block_type == 2:
        return s12
    raise ValueError(f"mp3: block_type {block_type}")


def _imdct(X: list[float], n: int) -> list[float]:
    """x_i = sum_k X_k cos(pi/(2n) (2i + 1 + n/2)(2k + 1))."""
    half = n // 2
    return [
        sum(
            X[k] * math.cos(math.pi / (2 * n) * (2 * i + 1 + half)
                            * (2 * k + 1))
            for k in range(half)
        )
        for i in range(n)
    ]


def imdct_granule(xr: list[float], block_type: int,
                  mixed: bool = False) -> list[list[float]]:
    """Per-subband windowed IMDCT: 32 subbands x 36 output samples.
    Short blocks run three windowed 12-point transforms overlapped at
    offsets 6/12/18 (spec 2.4.3.4.10.2); MIXED blocks use the normal
    long window for the two lowest subbands."""
    out = []
    for sb in range(32):
        X = xr[18 * sb:18 * sb + 18]
        if block_type != 2 or (mixed and sb < 2):
            w = imdct_window(0 if mixed and sb < 2 else block_type)
            z = _imdct(X, 36)
            out.append([z[i] * w[i] for i in range(36)])
        else:
            w = imdct_window(2)
            acc = [0.0] * 36
            for win in range(3):
                Xw = X[win::3]
                z = _imdct(Xw, 12)
                for i in range(12):
                    acc[6 * win + 6 + i] += z[i] * w[i]
            out.append(acc)
    return out


def granule_to_subband_samples(
    g: dict, sample_rate: int, prev_tail: list[list[float]] | None,
    xr: list[float] | None = None,
) -> tuple[list[list[float]], list[list[float]]]:
    """One granule-channel -> (18 x 32 subband-sample vectors, new
    overlap tail): requantize, reorder (short), alias-reduce
    (long/start/stop), IMDCT + overlap-add with the previous
    granule's tail, frequency inversion. Callers doing joint-stereo
    processing pass the post-butterfly spectrum via ``xr`` (stereo
    matrixing happens on REQUANTIZED, pre-reorder spectra)."""
    if xr is None:
        xr = requantize(g, sample_rate)
    mixed = bool(g["mixed_block_flag"])
    if g["block_type"] == 2:
        xr = reorder_short(xr, sample_rate, mixed=mixed)
        if mixed:
            # only the seam between the two long lower subbands
            xr = alias_reduce(xr, boundaries=1)
    else:
        xr = alias_reduce(xr)
    z = imdct_granule(xr, g["block_type"], mixed=mixed)
    if prev_tail is None:
        prev_tail = [[0.0] * 18 for _ in range(32)]
    samples = [[0.0] * 32 for _ in range(18)]
    new_tail = []
    for sb in range(32):
        for t in range(18):
            v = z[sb][t] + prev_tail[sb][t]
            # frequency inversion: odd time samples of odd subbands
            if sb % 2 and t % 2:
                v = -v
            samples[t][sb] = v
        new_tail.append(z[sb][18:])
    return samples, new_tail


def _joint_spectra(shell: dict, gr: int):
    """Joint-stereo processing for one granule pair: returns the
    (left, right) requantized spectra after M-S / intensity handling,
    or None when the frame is not joint stereo (decode proceeds per
    channel). Computed ONCE per granule even when both channels are
    decoded (see decode_mp3_pcm channel=None)."""
    mode_ext = shell.get("mode_ext", 0)
    if not (
        shell.get("nch", 1) == 2
        and shell.get("mode") == 0b01
        and mode_ext
    ):
        return None
    sqrt2 = math.sqrt(2.0)
    ms = bool(mode_ext & 0b10)
    intensity = bool(mode_ext & 0b01)
    g0, g1 = shell["granules"][gr]
    if (ms or (intensity and (g0["block_type"] == 2
                              or g1["block_type"] == 2))) and (
        g0["block_type"], g0["mixed_block_flag"]
    ) != (g1["block_type"], g1["mixed_block_flag"]):
        # M-S must commute with the reorder permutation; short/mixed
        # intensity indexes both PRE-reorder spectra by the right
        # channel's band/window layout — either way the channels
        # must share block structure
        raise ValueError(
            "mp3: joint-stereo granule with differing block "
            "structure between channels"
        )
    fs = shell["sample_rate"]
    m = requantize(g0, fs)
    s = requantize(g1, fs)
    left = [0.0] * 576
    right = [0.0] * 576
    # stereo part first (M-S butterfly or plain L/R over the whole
    # spectrum); intensity bands then overwrite their lines, with
    # is_pos 7 ("intensity off") keeping this fallback — same
    # arithmetic per line as the spec's bound-split formulation
    for i in range(576):
        if ms:
            left[i] = (m[i] + s[i]) / sqrt2
            right[i] = (m[i] - s[i]) / sqrt2
        else:
            left[i] = m[i]
            right[i] = s[i]
    if not intensity:
        return left, right

    def _apply_intensity(lo: int, hi: int, is_pos: int) -> None:
        """Spec 2.4.3.4.9.3 split of the LEFT spectrum over lines
        [lo, hi): ratio tan(is_pos*pi/12); 6 = all left, 7 =
        intensity off (stereo fallback already in place)."""
        if is_pos > 7:
            # expressible in the 4-bit field but spec-illegal:
            # tan() past pi/2 would silently mis-split (or
            # divide by zero at 9) — loud instead
            raise ValueError(
                f"mp3: intensity position {is_pos} out of "
                "range (0-7)"
            )
        if is_pos == 7:
            return
        if is_pos == 6:  # tan(pi/2): all left
            for i in range(lo, hi):
                left[i] = m[i]
                right[i] = 0.0
            return
        ratio = math.tan(is_pos * math.pi / 12)
        cl = ratio / (1.0 + ratio)
        cr = 1.0 / (1.0 + ratio)
        for i in range(lo, hi):
            left[i] = m[i] * cl
            right[i] = m[i] * cr

    if g1["block_type"] != 2:
        # LONG/start/stop intensity region (2.4.3.4.9.3): the long
        # scalefactor bands at/above the right channel's zero part;
        # the right channel's scalefactors there are intensity
        # POSITIONS (band 21 reuses band 20's position)
        sfb = SFB_LONG[fs]
        rzero = 2 * g1["big_values"] + 4 * len(g1.get("quads") or ())
        # first band starting at/after the right channel's zero
        # part; rzero beyond the last band start means NO intensity
        # region at all (bstart 22 -> empty range)
        bstart = 22
        for b in range(22):
            if sfb[b] >= rzero:
                bstart = b
                break
        for b in range(bstart, 22):
            _apply_intensity(sfb[b], sfb[b + 1],
                             g1["scalefacs"][min(b, 20)])
        return left, right

    # SHORT / MIXED intensity: the border between the stereo and
    # intensity parts is determined PER WINDOW (2.4.3.4.9.3) by
    # scanning the right channel's decoded values from the top short
    # band down; bands above a window's border take their intensity
    # position from the right channel's short scalefactor slot for
    # that (band, window) — band 12 (untransmitted, like long band
    # 21) reuses band 11's position. Spectra here are PRE-reorder
    # (band-major, window-minor), so window w of band b is the
    # contiguous run starts[b] + w*width_b.
    mixed = bool(g1["mixed_block_flag"])
    vals1 = _values_576(g1)
    widths = SFB_SHORT_WIDTHS[fs]
    starts = [0]
    for wd in widths:
        starts.append(starts[-1] + 3 * wd)
    first_short = 3 if mixed else 0
    short_all_zero = True
    for w in range(3):
        border = first_short - 1
        for b in range(12, first_short - 1, -1):
            lo = starts[b] + w * widths[b]
            if any(vals1[lo + k] for k in range(widths[b])):
                border = b
                break
        if border >= first_short:
            short_all_zero = False
        for b in range(border + 1, 13):
            lo = starts[b] + w * widths[b]
            bb = min(b, 11)
            is_pos = g1["scalefacs"][
                8 + 3 * (bb - 3) + w if mixed else 3 * bb + w
            ]
            _apply_intensity(lo, lo + widths[b], is_pos)
    if mixed and short_all_zero:
        # the right channel's short part is ENTIRELY zero: the
        # border falls inside the mixed block's LONG region (lines
        # 0-35, long bands 0-7, scalefactor slots 0-7) — scan it
        # from the top line down and intensity-process the long
        # bands at/above the first all-zero-tail band
        last_nz = -1
        for i in range(35, -1, -1):
            if vals1[i]:
                last_nz = i
                break
        sfb = SFB_LONG[fs]
        bstart = 8
        for b in range(8):
            if sfb[b] >= last_nz + 1:
                bstart = b
                break
        for b in range(bstart, 8):
            _apply_intensity(sfb[b], sfb[b + 1], g1["scalefacs"][b])
    return left, right


def _polyphase_synthesis(blocks: list):
    """The Annex A Fig. A.2 flowchart with ONE continuous V register
    across the whole stream (synthesize_pcm's core, inlined so state
    is not reset at frame boundaries; equality with that core is
    pinned in tests/test_mp3_pcm.py)."""
    import numpy as np

    from cam_etl_spark.multimodal.mpegaudio import synthesis_window

    nblk = len(blocks)
    if nblk % 36:
        raise ValueError("mp3: subband block count not a multiple of 36")
    cache = _polyphase_synthesis.__dict__
    if "n" not in cache:
        cache["n"] = np.array(
            [
                [math.cos((16 + i) * (2 * k + 1) * math.pi / 64)
                 for k in range(32)]
                for i in range(64)
            ]
        )
        cache["d"] = np.asarray(synthesis_window())
    n, d = cache["n"], cache["d"]
    v = np.zeros(1024)
    out = []
    for t in range(nblk):
        s = np.array(blocks[t])
        v[64:] = v[:-64]
        v[:64] = n @ s
        u = np.empty(512)
        for j in range(8):
            u[64 * j:64 * j + 32] = v[128 * j:128 * j + 32]
            u[64 * j + 32:64 * j + 64] = v[128 * j + 96:128 * j + 128]
        w = u * d
        out.append(w.reshape(16, 32).sum(axis=0))
    return np.concatenate(out)


def decode_mp3_pcm(shells: list[dict], channel: int | None = 0):
    """FULL Layer III decode to PCM (parse_mp3_frame /
    parse_mp3_stream output whose granules carry `pairs` and
    `quads`): subband reconstruction above, then the MPEG-1 polyphase
    synthesis filterbank with the vendored Table 3-B.3 window
    (mpegaudio.synthesize_pcm's filter core). Returns a numpy array
    of 1152 * n_frames samples for the selected channel — or, with
    ``channel=None`` on a 2-channel stream, the (left, right) PAIR
    with the joint-stereo processing computed once per granule
    instead of once per channel. Works for long, start, stop, short
    AND mixed blocks within the vendored big-values table family,
    mono, plain stereo and joint stereo — M-S (the (M±S)/sqrt(2)
    butterfly of §2.4.3.4.9.3, applied to the requantized spectra:
    channel 0 carries mid, channel 1 side; M-S requires both channels
    to share block structure, since the butterfly must commute with
    the reorder permutation) and intensity stereo on EVERY block
    type (the right channel's scalefactors at/above its zero part
    are intensity positions: ratio tan(is_pos*pi/12) splits the left
    spectrum, is_pos 6 = all left, is_pos 7 = intensity off for the
    band, band 21 reuses band 20's position — long blocks; short and
    mixed blocks determine the border PER WINDOW, band 12 reusing
    band 11's position, with a long-region border fallback when a
    mixed block's short part is entirely zero; combinable with M-S,
    which then covers the stereo part below the borders)."""
    chans = (0, 1) if channel is None else (channel,)
    if channel is None and (
        not shells or shells[0].get("nch", 1) != 2
    ):
        raise ValueError("mp3: channel=None needs a 2-channel stream")
    tails = [None] * len(chans)
    blocks = [[] for _ in chans]  # per channel: 32-subband vectors
    for shell in shells:
        for gr in range(2):
            pair = _joint_spectra(shell, gr)
            for ci, c in enumerate(chans):
                g = shell["granules"][gr][c]
                xr = pair[c] if pair is not None else None
                samples, tails[ci] = granule_to_subband_samples(
                    g, shell["sample_rate"], tails[ci], xr=xr
                )
                blocks[ci].extend(samples)
    outs = [_polyphase_synthesis(b) for b in blocks]
    return tuple(outs) if channel is None else outs[0]


def stereo_spectrum_stats(media_id: int, lines) -> dict:
    """Stats row of a decoded stereo spectrum: ``lines`` yields the
    (left, right) value of each spectral line. Values count in exact
    integer micro-units (``micro6``); ``n_lines`` counts the lines where
    either channel is nonzero."""
    n_lines = 0
    sums = [0, 0, 0, 0, 0, 0]
    for lv, rv in lines:
        ml, mr = micro6(lv), micro6(rv)
        if ml or mr:
            n_lines += 1
        sums[0] += ml
        sums[1] += abs(ml)
        sums[2] = max(sums[2], abs(ml))
        sums[3] += mr
        sums[4] += abs(mr)
        sums[5] = max(sums[5], abs(mr))
    return {
        "media_id": media_id,
        "n_lines": n_lines,
        "sum_l_micro": sums[0],
        "sum_abs_l_micro": sums[1],
        "max_abs_l_micro": sums[2],
        "sum_r_micro": sums[3],
        "sum_abs_r_micro": sums[4],
        "max_abs_r_micro": sums[5],
    }
