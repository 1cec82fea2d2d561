"""Minimal WARC/1.0 record reader/writer (ISO 28500 — the public Web
ARChive format; Common Crawl distributes the web as WARC files).

Pure-Python kernel, no Spark: the Spark plumbing lives in
``sources/warc.py``.  Only ``response``-type records with the fields this
engine round-trips (target URI, date, payload) are emitted/consumed —
enough to interchange page stores with WARC-speaking tools.

Framing is SPEC-CORRECT, not delimiter-based: each record is a CRLF
header block terminated by an empty line, then exactly ``Content-Length``
payload OCTETS, then CRLF CRLF.  The reader advances by Content-Length,
so payloads containing ``\\r\\n\\r\\nWARC/1.0`` (i.e. bytes that LOOK like
a record boundary) parse correctly — the golden test pins that trap.
"""

from __future__ import annotations

import hashlib
import uuid
from typing import Iterable, List, Tuple

_CRLF = b"\r\n"
_BLANK = b"\r\n\r\n"


def _record_id(uri: str, date: str, payload: bytes) -> str:
    """The record's mandatory ``WARC-Record-ID``: a name-based (v5) UUID of
    its target URI, date and payload digest, so a rebuilt archive is
    byte-identical and distinct records get distinct IDs."""
    name = "\n".join((uri, date, hashlib.sha256(payload).hexdigest()))
    return f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, name)}>"


def build_warc(records: Iterable[Tuple[str, str, bytes]]) -> bytes:
    """(target_uri, warc_date, payload_bytes) rows → one WARC blob."""
    out: List[bytes] = []
    for uri, date, payload in records:
        if not isinstance(payload, (bytes, bytearray)):
            raise TypeError("payload must be bytes (Content-Length is octets)")
        header = (
            b"WARC/1.0" + _CRLF
            + b"WARC-Type: response" + _CRLF
            + b"WARC-Record-ID: " + _record_id(uri, date, payload).encode("ascii") + _CRLF
            + b"WARC-Target-URI: " + uri.encode("utf-8") + _CRLF
            + b"WARC-Date: " + date.encode("ascii") + _CRLF
            + b"Content-Type: text/html" + _CRLF
            + b"Content-Length: " + str(len(payload)).encode("ascii")
            + _BLANK
        )
        out.append(header + bytes(payload) + _BLANK)
    return b"".join(out)


def parse_warc(blob: bytes) -> List[Tuple[str, str, bytes]]:
    """WARC blob → [(target_uri, warc_date, payload_bytes)].

    Raises ``ValueError`` on structural damage (missing header terminator,
    payload shorter than Content-Length) rather than silently dropping a
    tail — a truncated shard must fail loudly in a pipeline.
    """
    recs: List[Tuple[str, str, bytes]] = []
    i, n = 0, len(blob)
    while i < n:
        while blob.startswith(_CRLF, i):  # inter-record padding
            i += 2
        if i >= n:
            break
        j = blob.find(_BLANK, i)
        if j < 0:
            raise ValueError("truncated WARC header block")
        header_lines = blob[i:j].decode("utf-8").split("\r\n")
        if not header_lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset {i}: "
                             f"{header_lines[0][:40]!r}")
        fields = {}
        for ln in header_lines[1:]:
            k, _, v = ln.partition(":")
            fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("missing/invalid Content-Length") from exc
        payload = blob[j + 4:j + 4 + clen]
        if len(payload) != clen:
            raise ValueError(
                f"truncated payload: want {clen} octets, have {len(payload)}")
        recs.append((fields.get("warc-target-uri", ""),
                     fields.get("warc-date", ""), payload))
        i = j + 4 + clen
    return recs


# ---------------------------------------------------------------------------
# Member-wise gzip (.warc.gz) — the Common Crawl convention: every record is
# its own gzip MEMBER, concatenated.  That layout exists precisely for
# distributed processing: a reader can start at any member boundary without
# decompressing the whole file, and record-level random access stays cheap.
# Python's gzip.decompress inflates only the FIRST member, so parsing walks
# members with a streaming zlib window instead.
# ---------------------------------------------------------------------------


def build_warc_gz(records: Iterable[Tuple[str, str, bytes]]) -> bytes:
    """Like :func:`build_warc`, but each record becomes one gzip member
    (mtime pinned to 0 so output is byte-deterministic across runs)."""
    import gzip

    out: List[bytes] = []
    for rec in records:
        out.append(gzip.compress(build_warc([rec]), mtime=0))
    return b"".join(out)


def parse_warc_gz(blob: bytes) -> List[Tuple[str, str, bytes]]:
    """Member-wise-gzipped WARC blob → records.  Each member is inflated
    with its own zlib window (wbits=47 auto-detects the gzip header) and
    ``unused_data`` hands over the next member's offset."""
    import zlib

    recs: List[Tuple[str, str, bytes]] = []
    rest = bytes(blob)
    while rest:
        d = zlib.decompressobj(wbits=47)
        chunk = d.decompress(rest)
        if not d.eof:
            raise ValueError("truncated gzip member")
        recs.extend(parse_warc(chunk))
        rest = d.unused_data
    return recs
