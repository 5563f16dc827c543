"""Independent output checks for the forwarding benchmark.

Nothing here imports the engine: the KPL frame decoder and the SigV4
verifier are written from the public format specifications so that a bug
shared by the engine's encoder and its own ``kpl.deaggregate`` cannot hide.

KPL aggregated record (public aggregation-format.md):

    frame = F3 89 9A C2 || protobuf(AggregatedRecord) || MD5(protobuf)
    AggregatedRecord: repeated string partition_key_table = 1;
                      repeated string explicit_hash_key_table = 2;
                      repeated Record records = 3;
    Record:           uint64 partition_key_index = 1;
                      uint64 explicit_hash_key_index = 2;
                      bytes  data = 3;
"""

from __future__ import annotations

import hashlib
import hmac

KPL_MAGIC = b"\xf3\x89\x9a\xc2"


class CorruptFrame(ValueError):
    """A PutRecords entry that is not a valid KPL aggregate."""


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    value = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise CorruptFrame("truncated varint")
        b = buf[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if b < 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise CorruptFrame("varint too long")


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) over one protobuf message; value
    is an int for varints and a bytes slice for length-delimited fields."""
    pos = 0
    end = len(buf)
    while pos < end:
        tag, pos = _varint(buf, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 0:
            value, pos = _varint(buf, pos)
        elif wire == 2:
            n, pos = _varint(buf, pos)
            if pos + n > end:
                raise CorruptFrame("length-delimited field overruns message")
            value = buf[pos : pos + n]
            pos += n
        else:
            raise CorruptFrame(f"unexpected wire type {wire}")
        yield field_no, wire, value


def decode_entry(data: bytes, entry_key: str) -> list[tuple[str, bytes]]:
    """User records carried by one PutRecords entry as (partition_key,
    body). Entries without the KPL magic are pass-through records."""
    if data[:4] != KPL_MAGIC:
        return [(entry_key, data)]
    if len(data) < 4 + 16:
        raise CorruptFrame("aggregate shorter than magic + md5")
    pb, digest = data[4:-16], data[-16:]
    if hashlib.md5(pb).digest() != digest:
        raise CorruptFrame("md5 trailer mismatch")
    keys: list[str] = []
    out: list[tuple[int, bytes]] = []
    for field_no, wire, value in _fields(pb):
        if field_no == 1 and wire == 2:
            keys.append(bytes(value).decode("utf-8"))
        elif field_no == 3 and wire == 2:
            index, body = 0, None
            for f, w, v in _fields(value):
                if f == 1 and w == 0:
                    index = v
                elif f == 3 and w == 2:
                    body = bytes(v)
            if body is None:
                raise CorruptFrame("record without data")
            out.append((index, body))
    if not out:
        raise CorruptFrame("aggregate holds no records")
    if keys and keys[0] != entry_key:
        raise CorruptFrame("entry key is not the aggregate's first key")
    try:
        return [(keys[i], body) for i, body in out]
    except IndexError:
        raise CorruptFrame("partition key index out of range") from None


def valid_partition_key(key: str) -> bool:
    """Kinesis accepts partition keys of 1 to 256 UTF-8 bytes."""
    return 1 <= len(key.encode("utf-8")) <= 256


def _sign(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode("utf-8"), hashlib.sha256).digest()


def sigv4_ok(headers: dict[str, str], body: bytes, secret_key: str) -> bool:
    """Recompute the AWS SigV4 signature of a POST to "/" from the headers
    the request names as signed; ``headers`` has lower-case names."""
    auth = headers.get("authorization", "")
    if not auth.startswith("AWS4-HMAC-SHA256 "):
        return False
    try:
        parts = dict(
            p.strip().split("=", 1) for p in auth[len("AWS4-HMAC-SHA256 ") :].split(",")
        )
        _access, date, region, service, term = parts["Credential"].split("/")
        signed = parts["SignedHeaders"].split(";")
        canonical = "".join(f"{h}:{' '.join(headers[h].split())}\n" for h in signed)
    except (KeyError, ValueError):
        return False
    request = "\n".join(
        ["POST", "/", "", canonical, ";".join(signed), hashlib.sha256(body).hexdigest()]
    )
    scope = f"{date}/{region}/{service}/{term}"
    to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            headers.get("x-amz-date", ""),
            scope,
            hashlib.sha256(request.encode("utf-8")).hexdigest(),
        ]
    )
    k = _sign(("AWS4" + secret_key).encode("utf-8"), date)
    for part in (region, service, term):
        k = _sign(k, part)
    expected = hmac.new(k, to_sign.encode("utf-8"), hashlib.sha256).hexdigest()
    return hmac.compare_digest(expected, parts.get("Signature", ""))
