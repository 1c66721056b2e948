"""Gorilla time-series compression (delta-of-delta timestamps + XOR float
values), NumPy-vectorized bit packing — per north_rule, rolled-up points at
every tier are stored Gorilla-compressed in chunk tables.

Semantics follow the public Gorilla paper (Pelkonen et al., VLDB 2015 —
"Gorilla: A Fast, Scalable, In-Memory Time Series Database"):

timestamps, delta-of-delta buckets:
  dod == 0                  -> '0'
  dod in [-63, 64]          -> '10'   + 7 bits  (dod + 63)
  dod in [-255, 256]        -> '110'  + 9 bits  (dod + 255)
  dod in [-2047, 2048]      -> '1110' + 12 bits (dod + 2047)
  else                      -> '1111' + 64 bits raw (we widen the paper's
                               32-bit escape to 64 for arbitrary gaps)

values, XOR with predecessor:
  xor == 0                  -> '0'
  fits prior block          -> '10' + meaningful bits (block reuse)
  else                      -> '11' + 5b leading-zeros + 6b length + bits
                               (length 64 encodes as 0)

Encoding is vectorized: classification, leading/trailing-zero counts and the
bit-matrix packing are whole-array NumPy; the only sequential walk is over
value-block CHANGES ('11' events), which are rare on smooth series.

Decode is ALSO fully vectorized (no per-token Python). The paper's
interleaved bit stream is self-delimiting, which forces a sequential
cursor; the on-disk layout therefore COLUMNARIZES each side's tokens into
control / (header) / payload sub-streams with the exact same token grammar
and bit budget:
  * control streams hold only the variable-length prefix codes (<= 4 bits
    per timestamp token, <= 2 bits per value token), so token starts come
    from a per-position token-length table + pointer doubling
    (jump -> jump o jump) over a tiny domain (~16-32 KB for a 64k chunk,
    not the ~0.5 MB interleaved stream);
  * value block headers are fixed 11-bit lz/len records, one per '11'
    event — a constant-stride gather (the reuse-token length depending on
    the current block is the sequential state that makes the interleaved
    layout undecodable without a cursor; here it run-expands from the
    header stream);
  * payload offsets are one cumsum of per-token lengths; extraction is a
    9-bytes-per-TOKEN gather (``_words_at``), never a 64-bit window per
    BIT; the dod -> timestamp and prev-XOR chains are cumsum /
    ``np.bitwise_xor.accumulate``.
This is the split-stream trick time-series formats use on disk (controls
separated from payloads, as in Chimp/ALP-style layouts): identical
information, within a few pad bytes of the interleaved size, O(L log n)
NumPy decode. Peak decode memory is ~O(n) tables + bit-expanded control
streams, not ~64x the whole buffer (round-3 review finding); ``decode``
guards a max buffer size as a backstop.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"GOR2"
# Persisted-table codec stamp: chunk tables record this as a table prop
# (rollup_job writes props={"codec": CODEC_VERSION}) so a table encoded by
# an older layout (GOR1 interleaved stream, round<=3) is detected at merge
# time and fully re-encoded instead of mixing formats — decode() asserts
# one magic and must never see a mixed table.
CODEC_VERSION = _MAGIC.decode()
_U64 = np.uint64
# read-path guard: our writers bound each chunk by its time-anchored window
# (e.g. 10,080 points for a week of 1m buckets, <0.1 MB value stream);
# anything vastly larger is corrupt or foreign, and the decode tables would
# be ~12x the buffer — fail loudly rather than thrash.
MAX_DECODE_BYTES = 64 << 20


def _bit_length_u64(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64).copy()
    bl = np.zeros(v.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        t = v >> _U64(s)
        m = t != 0
        bl += np.where(m, s, 0)
        v = np.where(m, t, v)
    return bl + (v != 0)


def _clz64(v: np.ndarray) -> np.ndarray:
    return 64 - _bit_length_u64(v)


def _ctz64(v: np.ndarray) -> np.ndarray:
    lsb = v & (np.zeros_like(v) - v)  # v & -v in uint64 arithmetic
    return np.where(v == 0, 64, _bit_length_u64(lsb) - 1)


def _pack_tokens(vals: np.ndarray, lens: np.ndarray) -> bytes:
    """Pack each vals[i]'s lowest lens[i] bits, MSB-first, into bytes.

    Work is O(total emitted bits): the flat bit array is built directly via
    repeat + cumsum offsets (global bit p of token t shifts by
    off[t]+lens[t]-1-p). The earlier n x 64 shift-matrix cost 64 bits of
    temporaries per token regardless of length — ~30x waste for the 1-2
    bit control streams that dominate token counts."""
    vals = vals.astype(np.uint64)
    lens = lens.astype(np.int64)
    keep = lens > 0
    vals, lens = vals[keep], lens[keep]
    if len(vals) == 0:
        return b""
    end = np.cumsum(lens)  # exclusive end bit of each token
    total = int(end[-1])
    tid = np.repeat(np.arange(len(vals), dtype=np.int64), lens)
    sh = (end[tid] - 1 - np.arange(total, dtype=np.int64)).astype(np.uint64)
    flat = ((vals[tid] >> sh) & _U64(1)).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(flat).tobytes()


def _encode_timestamps(ts: np.ndarray):
    """Return (controls, control_lens, payloads, payload_lens) for ts[1:]."""
    deltas = np.diff(ts)
    # dod[0] = delta[0] - 0 (first delta has implied predecessor 0)
    dod = np.diff(deltas, prepend=np.int64(0))
    n = len(dod)
    ctrl = np.empty(n, dtype=np.uint64)
    clen = np.empty(n, dtype=np.int64)
    pay = np.empty(n, dtype=np.uint64)
    plen = np.empty(n, dtype=np.int64)

    z = dod == 0
    b1 = ~z & (dod >= -63) & (dod <= 64)
    b2 = ~z & ~b1 & (dod >= -255) & (dod <= 256)
    b3 = ~z & ~b1 & ~b2 & (dod >= -2047) & (dod <= 2048)
    b4 = ~(z | b1 | b2 | b3)

    ctrl[z], clen[z], pay[z], plen[z] = 0b0, 1, 0, 0
    ctrl[b1], clen[b1] = 0b10, 2
    pay[b1], plen[b1] = (dod[b1] + 63).astype(np.uint64), 7
    ctrl[b2], clen[b2] = 0b110, 3
    pay[b2], plen[b2] = (dod[b2] + 255).astype(np.uint64), 9
    ctrl[b3], clen[b3] = 0b1110, 4
    pay[b3], plen[b3] = (dod[b3] + 2047).astype(np.uint64), 12
    ctrl[b4], clen[b4] = 0b1111, 4
    pay[b4], plen[b4] = dod[b4].astype(np.int64).view(np.uint64), 64
    return ctrl, clen, pay, plen


def _encode_values(bits: np.ndarray):
    """XOR-encode bits[1:] against predecessors. Returns token arrays
    (3 tokens per point: control, header, payload; zero-length unused)."""
    xor = bits[1:] ^ bits[:-1]
    n = len(xor)
    lz = np.minimum(_clz64(xor), 31)
    tz = _ctz64(xor)

    ctrl = np.zeros(n, dtype=np.uint64)
    clen = np.ones(n, dtype=np.int64)  # default '0' (xor == 0)
    hdr = np.zeros(n, dtype=np.uint64)
    hlen = np.zeros(n, dtype=np.int64)
    pay = np.zeros(n, dtype=np.uint64)
    plen = np.zeros(n, dtype=np.int64)

    nz = np.flatnonzero(xor != 0)
    # sequential walk over BLOCK CHANGES only: a point reuses the current
    # block iff lz >= cur_lz and tz >= cur_tz, else opens a new block ('11').
    # The next violation is found by GALLOPING (doubling windows), so the
    # total cost is O(n + blocks * log) — noisy series whose mantissa
    # entropy opens a block almost every point (e.g. integer count series
    # under float64 XOR) would make a scan-the-rest search quadratic.
    lz_nz, tz_nz = lz[nz], tz[nz]
    new_block = np.zeros(len(nz), dtype=bool)
    i, N = 0, len(nz)
    while i < N:
        new_block[i] = True
        cur_lz, cur_tz = lz_nz[i], tz_nz[i]
        j, step, nxt = i + 1, 64, N
        while j < N:
            hi = min(j + step, N)
            seg = (lz_nz[j:hi] < cur_lz) | (tz_nz[j:hi] < cur_tz)
            k = int(np.argmax(seg))
            if seg[k]:  # j < hi, so seg is never empty
                nxt = j + k
                break
            j, step = hi, step * 2
        i = nxt

    nb = nz[new_block]
    rb = nz[~new_block]
    # new block: '11' + 5b lz + 6b (len & 63) + meaningful bits
    mlen_nb = 64 - lz[nb] - tz[nb]
    ctrl[nb], clen[nb] = 0b11, 2
    hdr[nb] = (lz[nb].astype(np.uint64) << _U64(6)) | (mlen_nb % 64).astype(np.uint64)
    hlen[nb] = 11
    pay[nb] = xor[nb] >> tz[nb].astype(np.uint64)
    plen[nb] = mlen_nb
    # reuse: '10' + meaningful bits under the governing block
    if len(rb):
        gov = nb[np.searchsorted(nb, rb) - 1]
        gtz = tz[gov]
        glen = 64 - lz[gov] - gtz
        ctrl[rb], clen[rb] = 0b10, 2
        pay[rb] = xor[rb] >> gtz.astype(np.uint64)
        plen[rb] = glen
    return ctrl, clen, hdr, hlen, pay, plen


def encode(timestamps: np.ndarray, values: np.ndarray) -> bytes:
    """Encode one chunk. timestamps int64 (epoch seconds), values float64.
    NaNs round-trip bit-exactly (raw IEEE bits).

    Layout: GOR2 | n u32 | t0 i64 | v0 u64 | six u32 stream lengths (ts
    ctrl, ts payload, value ctrl, value headers, value payload, nblk) |
    the five bit-streams in that order (module docstring — split layout,
    same token grammar/bit budget as the paper's)."""
    ts = np.asarray(timestamps, dtype=np.int64)
    vals = np.asarray(values, dtype=np.float64)
    assert ts.shape == vals.shape and ts.ndim == 1
    n = len(ts)
    if n == 0:
        return _MAGIC + struct.pack("<I", 0)
    bits = vals.view(np.uint64)
    head = _MAGIC + struct.pack("<IqQ", n, int(ts[0]), int(bits[0]))
    if n == 1:
        return head + struct.pack("<IIIIII", 0, 0, 0, 0, 0, 0)

    tc, tcl, tp, tpl = _encode_timestamps(ts)
    tctrl_bytes = _pack_tokens(tc, tcl)
    tpay_bytes = _pack_tokens(tp, tpl)
    vc, vcl, vh, vhl, vp, vpl = _encode_values(bits)
    ctrl_bytes = _pack_tokens(vc, vcl)
    nb = vc == 3  # '11' block events, in token order
    hdr_bytes = _pack_tokens(vh[nb], vhl[nb])
    pay_bytes = _pack_tokens(vp, vpl)
    return (head
            + struct.pack("<IIIIII", len(tctrl_bytes), len(tpay_bytes),
                          len(ctrl_bytes), len(hdr_bytes), len(pay_bytes),
                          int(nb.sum()))
            + tctrl_bytes + tpay_bytes + ctrl_bytes + hdr_bytes + pay_bytes)


def _unpack_bits(buf: bytes, pad_bits: int = 128) -> np.ndarray:
    """Buffer as a uint8 bit array (MSB-first), zero-padded past the end so
    length tables stay defined for tokens ending at the buffer edge."""
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    return np.concatenate([bits, np.zeros(pad_bits, dtype=np.uint8)])


def _words_at(buf: bytes, pos: np.ndarray) -> np.ndarray:
    """uint64 of the 64 bits starting at bit offset pos[i] (MSB-first, zero
    past the end): 9 byte-gathers per POSITION instead of a materialized
    64-bit window per BIT — the round-3 review's ~64x-buffer decode peak
    becomes O(#tokens)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    b = np.concatenate([b, np.zeros(16, dtype=np.uint8)])
    pos = np.asarray(pos, dtype=np.int64)
    byte = np.minimum(pos >> 3, len(b) - 16)
    sh = (pos & 7).astype(np.uint64)
    w = np.zeros(len(pos), dtype=np.uint64)
    for j in range(8):
        w |= b[byte + j].astype(np.uint64) << _U64(8 * (7 - j))
    nxt = b[byte + 8].astype(np.uint64)
    # sh=0: nxt >> 8 == 0 (byte values < 256), so no branch needed
    return (w << sh) | (nxt >> (_U64(8) - sh))


def _token_starts(tl: np.ndarray, count: int) -> np.ndarray:
    """First ``count`` token-start bit positions given a per-bit-position
    token-length table, by pointer doubling: starts = orbit of 0 under
    p -> p + tl[p], materialized in O(L log count) with no Python loop over
    tokens. Only the tl values AT true token starts must be correct."""
    L = len(tl)
    f = np.minimum(np.arange(L, dtype=np.int64) + tl, L - 1)
    starts = np.zeros(1, dtype=np.int64)
    jump = f
    while len(starts) < count:
        starts = np.concatenate([starts, jump[starts]])
        if len(starts) < count:
            jump = jump[jump]
    return starts[:count]


def _decode_timestamps(ctrl_buf: bytes, pay_buf: bytes,
                       n: int, t0: int) -> np.ndarray:
    """Fully vectorized timestamp decode over the split streams: the
    control stream's token length is a pure function of its leading bits
    ('0'=1, '10'=2, '110'=3, '111x'=4), so a length table + pointer
    doubling over the <= 4 bit/token domain finds all token starts;
    payload lengths per class -> one cumsum of offsets -> word gathers;
    dod -> delta -> timestamp are two more cumsums."""
    cbits = _unpack_bits(ctrl_buf, pad_bits=32)
    L = len(cbits) - 3
    b0, bx1, bx2 = cbits[0:L], cbits[1:L + 1], cbits[2:L + 2]
    tl = np.where(b0 == 0, 1,
         np.where(bx1 == 0, 2,
         np.where(bx2 == 0, 3, 4))).astype(np.int64)
    starts = _token_starts(tl, n - 1)

    # class per token: 0:'0' 1:'10' 2:'110' 3:'1110' 4:'1111'
    g0 = cbits[starts].astype(np.int64)
    g1 = g0 & cbits[starts + 1]
    g2 = g1 & cbits[starts + 2]
    g3 = g2 & cbits[starts + 3]
    c = g0 + g1 + g2 + g3
    PLEN = np.array([0, 7, 9, 12, 64], dtype=np.int64)
    plen = PLEN[c]
    off = np.cumsum(plen) - plen
    dod = np.zeros(n - 1, dtype=np.int64)  # class 0 stays 0
    pay = np.flatnonzero(c > 0)
    if len(pay):
        pw = _words_at(pay_buf, off[pay])
        cp, pl = c[pay], plen[pay]
        raw = (pw >> (_U64(64) - pl.astype(np.uint64)))
        BIAS = np.array([0, 63, 255, 2047, 0], dtype=np.int64)
        v = np.where(cp == 4, raw.view(np.int64),
                     raw.astype(np.int64) - BIAS[cp])
        dod[pay] = v
    deltas = np.cumsum(dod)
    ts = np.empty(n, dtype=np.int64)
    ts[0] = t0
    ts[1:] = t0 + np.cumsum(deltas)
    return ts


def _decode_values(ctrl_buf: bytes, hdr_buf: bytes, pay_buf: bytes,
                   n: int, v0: int, nblk: int) -> np.ndarray:
    """Fully vectorized value decode over the split streams. Token starts
    come from pointer doubling over the CONTROL stream only (<= 2 bits per
    token); block headers are a fixed 11-bit-stride gather; per-token
    payload lengths run-expand from the governing block, their offsets are
    one cumsum; the prev-chain is one bitwise_xor.accumulate."""
    ntok = n - 1
    cbits = _unpack_bits(ctrl_buf, pad_bits=16)
    tl = np.where(cbits == 0, 1, 2).astype(np.int64)
    starts = _token_starts(tl, ntok)
    b0 = cbits[starts] == 1
    b1 = cbits[starts + 1] == 1
    is_blk = b0 & b1
    is_reuse = b0 & ~b1
    blk_tok = np.flatnonzero(is_blk)
    assert len(blk_tok) == nblk, "control stream disagrees with header count"
    if nblk == 0:
        return np.full(n, v0, dtype=np.uint64)  # all-zero XORs

    hw = _words_at(hdr_buf, 11 * np.arange(nblk, dtype=np.int64))
    lz = ((hw >> _U64(59)) & _U64(0x1F)).astype(np.int64)
    ln = ((hw >> _U64(53)) & _U64(0x3F)).astype(np.int64)
    ln[ln == 0] = 64

    tok_lz = np.zeros(ntok, dtype=np.int64)
    tok_ln = np.zeros(ntok, dtype=np.int64)
    tok_lz[blk_tok], tok_ln[blk_tok] = lz, ln
    rj = np.flatnonzero(is_reuse)
    if len(rj):
        g = np.searchsorted(blk_tok, rj) - 1  # governing block per reuse
        tok_lz[rj], tok_ln[rj] = lz[g], ln[g]

    has_pay = is_blk | is_reuse
    plen = np.where(has_pay, tok_ln, 0)
    off = np.cumsum(plen) - plen  # exclusive prefix: payload bit offsets
    xor = np.zeros(ntok, dtype=np.uint64)
    hp = np.flatnonzero(has_pay)
    if len(hp):
        pw = _words_at(pay_buf, off[hp])
        m = pw >> (_U64(64) - tok_ln[hp].astype(np.uint64))
        xor[hp] = m << (64 - tok_lz[hp] - tok_ln[hp]).astype(np.uint64)
    out = np.empty(n, dtype=np.uint64)
    out[0] = np.uint64(v0)
    out[1:] = xor
    return np.bitwise_xor.accumulate(out)


def decode(buf: bytes):
    """Inverse of :func:`encode`. Returns (timestamps int64, values float64)."""
    assert buf[:4] == _MAGIC, "bad magic"
    assert len(buf) <= MAX_DECODE_BYTES, \
        f"chunk buffer {len(buf)}B exceeds MAX_DECODE_BYTES — corrupt chunk?"
    (n,) = struct.unpack_from("<I", buf, 4)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    t0, v0 = struct.unpack_from("<qQ", buf, 8)
    ltc, ltp, lc, lh, lp, nblk = struct.unpack_from("<IIIIII", buf, 24)
    off = 48
    cuts = np.cumsum([off, ltc, ltp, lc, lh, lp])
    tctrl_buf, tpay_buf, ctrl_buf, hdr_buf, pay_buf = (
        buf[cuts[i]:cuts[i + 1]] for i in range(5))

    if n > 1:
        ts = _decode_timestamps(tctrl_buf, tpay_buf, n, t0)
        bits = _decode_values(ctrl_buf, hdr_buf, pay_buf, n, v0, nblk)
    else:
        ts = np.array([t0], dtype=np.int64)
        bits = np.array([v0], dtype=np.uint64)
    return ts, bits.view(np.float64)


def chunk_stats(values: np.ndarray, raw: bytes) -> dict:
    v = np.asarray(values, dtype=np.float64)
    finite = v[np.isfinite(v)]
    return {
        "n_points": int(len(v)),
        "bytes": int(len(raw)),
        "crc32": int(zlib.crc32(raw)),
        "v_min": float(finite.min()) if len(finite) else None,
        "v_max": float(finite.max()) if len(finite) else None,
        "v_sum": float(finite.sum()) if len(finite) else None,
    }
