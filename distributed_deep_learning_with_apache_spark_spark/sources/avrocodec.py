"""From-scratch Avro Object Container File (OCF) codec.

The container ships only the core avro jars — NOT the spark-avro SQL
connector — so ``spark.read.format("avro")`` is unavailable (r5 lesson,
verify skill notes) and there is no Python avro/fastavro library either.
Rather than record a skip, the Avro surface is implemented the same way
the repo's other codec gaps were (pngcodec.py, wavcodec.py): a pure-
stdlib encoder/decoder for the PUBLIC file format, driven through real
Spark plumbing (binaryFile scan + Arrow-batched mapInPandas decode, and
a distributed per-partition writer).

Implements the Avro 1.11 specification (avro.apache.org/docs/1.11.1/
specification/): the OCF layout (magic ``Obj\\x01``, metadata map with
``avro.schema``/``avro.codec``, 16-byte sync marker, data blocks of
(count, size, payload, sync)), binary encoding of primitives (zigzag
varint longs/ints, length-prefixed utf-8 strings/bytes, IEEE-754-LE
doubles/floats, 1-byte booleans, zero-byte nulls), records (field
concatenation in schema order), ``["null", T]`` unions (zigzag branch
index + value), and the ``null`` and ``deflate`` (raw RFC-1951) block
codecs. Logical types (timestamp-micros) ride their underlying
primitive, per spec.

``make_ocf_codec()`` builds the whole codec as CLOSURES so cloudpickle
ships it to executors by value — a cluster's executors need not have
this package installed (the same constraint, and the same factory
pattern, as pngcodec.make_gray_png_decoder and the mapInPandas kernels
in sources/binary.py).

Scale notes: encode/decode are per-row pure Python, but run INSIDE
Arrow-batched mapInPandas kernels, so the work distributes across
executors and the per-file payloads stream block-wise; the driver never
touches record data. A production deployment would swap the kernel for
the JVM connector; the file format, schema contract, and plumbing are
identical.
"""

from __future__ import annotations

MAGIC = b"Obj\x01"
DEFAULT_BLOCK_ROWS = 4096


def make_ocf_codec():
    """Build (write_ocf, read_ocf) as self-contained closures.

    write_ocf(path, schema, rows, codec="deflate", block_rows=4096) -> int
    read_ocf(data: bytes) -> (schema: dict, rows: list[dict])
    """
    import io
    import json
    import struct
    import zlib

    magic = MAGIC
    default_block_rows = DEFAULT_BLOCK_ROWS

    # -- primitive binary encoding ----------------------------------------
    def _enc_varlong(n):
        # zigzag + 7-bit little-endian varint (longs and ints share this)
        z = (n << 1) ^ (n >> 63)
        out = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def _dec_varlong(buf, pos):
        z = 0
        shift = 0
        while True:
            b = buf[pos]
            pos += 1
            z |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (z >> 1) ^ -(z & 1), pos

    def _enc_bytes(b):
        return _enc_varlong(len(b)) + b

    def _enc_string(s):
        return _enc_bytes(s.encode("utf-8"))

    def _dec_bytes(buf, pos):
        n, pos = _dec_varlong(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n

    # -- schema-driven record encode/decode -------------------------------
    def _norm_type(t):
        # a logicalType annotation does not change the wire encoding
        if isinstance(t, dict) and "logicalType" in t:
            return t["type"]
        return t

    def _encode_value(t, v):
        t = _norm_type(t)
        if isinstance(t, list):  # union: zigzag branch index + value
            if v is None and "null" in t:
                return _enc_varlong(t.index("null"))
            branch = next(i for i, bt in enumerate(t) if bt != "null")
            return _enc_varlong(branch) + _encode_value(t[branch], v)
        if t == "long" or t == "int":
            return _enc_varlong(int(v))
        if t == "double":
            return struct.pack("<d", float(v))
        if t == "float":
            return struct.pack("<f", float(v))
        if t == "string":
            return _enc_string(v)
        if t == "bytes":
            return _enc_bytes(v)
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "null":
            return b""
        raise ValueError(f"avrocodec: unsupported type {t!r}")

    def _decode_value(t, buf, pos):
        t = _norm_type(t)
        if isinstance(t, list):
            idx, pos = _dec_varlong(buf, pos)
            bt = t[idx]
            if bt == "null":
                return None, pos
            return _decode_value(bt, buf, pos)
        if t == "long" or t == "int":
            return _dec_varlong(buf, pos)
        if t == "double":
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        if t == "float":
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        if t == "string":
            b, pos = _dec_bytes(buf, pos)
            return b.decode("utf-8"), pos
        if t == "bytes":
            return _dec_bytes(buf, pos)
        if t == "boolean":
            return buf[pos] == 1, pos + 1
        if t == "null":
            return None, pos
        raise ValueError(f"avrocodec: unsupported type {t!r}")

    def encode_record(schema, row):
        # a record is its fields' encodings concatenated in schema order —
        # no tags, no lengths (the schema IS the framing)
        return b"".join(
            _encode_value(f["type"], row[f["name"]]) for f in schema["fields"]
        )

    def decode_record(schema, buf, pos):
        out = {}
        for f in schema["fields"]:
            out[f["name"]], pos = _decode_value(f["type"], buf, pos)
        return out, pos

    # -- container file ----------------------------------------------------
    def _sync_marker(seed):
        # spec says 'randomly generated'; a content-derived marker keeps
        # the files byte-reproducible across runs (the determinism rule)
        import hashlib

        return hashlib.md5(seed.encode("utf-8")).digest()

    def write_ocf(path, schema, rows, codec="deflate", block_rows=None):
        """Write an Avro OCF; returns the row count. ``codec`` is ``null``
        or ``deflate`` (raw RFC-1951, per spec: 'deflate ... as specified
        in RFC 1951 ... without any zlib framing')."""
        if codec not in ("null", "deflate"):
            raise ValueError(f"avrocodec: unsupported codec {codec!r}")
        block_rows = block_rows or default_block_rows
        sync = _sync_marker(json.dumps(schema, sort_keys=True) + path)
        with open(path, "wb") as f:
            f.write(magic)
            # metadata map: one block of 2 entries, then the 0 terminator
            f.write(_enc_varlong(2))
            f.write(_enc_string("avro.schema"))
            f.write(_enc_bytes(json.dumps(schema).encode("utf-8")))
            f.write(_enc_string("avro.codec"))
            f.write(_enc_bytes(codec.encode("utf-8")))
            f.write(_enc_varlong(0))
            f.write(sync)

            n_total = 0
            block = io.BytesIO()
            n_block = 0

            def flush():
                nonlocal n_block
                if not n_block:
                    return
                payload = block.getvalue()
                if codec == "deflate":
                    co = zlib.compressobj(9, zlib.DEFLATED, -15)  # raw
                    payload = co.compress(payload) + co.flush()
                f.write(_enc_varlong(n_block))
                f.write(_enc_varlong(len(payload)))
                f.write(payload)
                f.write(sync)
                block.seek(0)
                block.truncate()
                n_block = 0

            for row in rows:
                block.write(encode_record(schema, row))
                n_block += 1
                n_total += 1
                if n_block >= block_rows:
                    flush()
            flush()
        return n_total

    def read_ocf(data):
        """Parse an OCF blob → (schema, rows). Verifies the magic, the
        codec, and every block's sync marker (a torn/corrupt block is a
        loud error, not short rows)."""
        if data[:4] != magic:
            raise ValueError("avrocodec: bad magic (not an Avro OCF)")
        pos = 4
        meta = {}
        while True:
            n, pos = _dec_varlong(data, pos)
            if n == 0:
                break
            if n < 0:  # spec: negative count = long byte-size follows
                n = -n
                _, pos = _dec_varlong(data, pos)
            for _ in range(n):
                kb, pos = _dec_bytes(data, pos)
                vb, pos = _dec_bytes(data, pos)
                meta[kb.decode("utf-8")] = vb
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
        codec = meta.get("avro.codec", b"null").decode("utf-8")
        if codec not in ("null", "deflate"):
            raise ValueError(f"avrocodec: unsupported codec {codec!r}")
        sync = data[pos : pos + 16]
        pos += 16

        rows = []
        while pos < len(data):
            n_obj, pos = _dec_varlong(data, pos)
            n_bytes, pos = _dec_varlong(data, pos)
            payload = data[pos : pos + n_bytes]
            pos += n_bytes
            if data[pos : pos + 16] != sync:
                raise ValueError("avrocodec: sync marker mismatch (torn block)")
            pos += 16
            if codec == "deflate":
                payload = zlib.decompress(payload, -15)
            p = 0
            for _ in range(n_obj):
                row, p = decode_record(schema, payload, p)
                rows.append(row)
            if p != len(payload):
                raise ValueError("avrocodec: trailing bytes in block payload")
        return schema, rows

    return write_ocf, read_ocf


# Driver-side convenience instances (tests, fixture verification).
write_ocf, read_ocf = make_ocf_codec()
