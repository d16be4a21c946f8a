"""USTAR tar shard writer/reader — the WebDataset packaging step.

Large-scale image/text training readers (WebDataset et al.) consume
datasets as tar shards streamed sequentially; the pipeline step that
MAKES those shards is a pure byte-format job: fixed 512-byte USTAR
headers (POSIX.1-1988; name 100 bytes, octal size/mtime, checksum =
byte sum of the header with the checksum field as spaces, magic
'ustar\\0' + version '00'), data padded to 512-byte blocks, archive
terminated by two zero blocks.

Independent validator: Python's stdlib `tarfile` reads our archives
and writes archives our parser must list identically — the
cross-implementation check (TIFF-LZW lesson) with no extra
dependency. Determinism: mtime/uid/gid are fixed to 0, so a shard's
bytes are a pure function of its (name, payload) list — rerun-stable
digests for the q201 oracle.
"""

from __future__ import annotations


def _octal(n: int, width: int) -> bytes:
    return (f"%0{width - 1}o" % n).encode("ascii") + b"\x00"


def tar_write(members: list[tuple[str, bytes]]) -> bytes:
    """[(name, payload)] → USTAR archive bytes (deterministic: zero
    mtime/uid/gid, mode 0644, two-zero-block terminator, no record
    padding — every mainstream reader accepts unpadded archives)."""
    out = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError(f"name too long for USTAR: {name!r}")
        hdr = bytearray(512)
        hdr[0 : len(nb)] = nb
        hdr[100:108] = _octal(0o644, 8)        # mode
        hdr[108:116] = _octal(0, 8)            # uid
        hdr[116:124] = _octal(0, 8)            # gid
        hdr[124:136] = _octal(len(data), 12)   # size
        hdr[136:148] = _octal(0, 12)           # mtime
        hdr[148:156] = b" " * 8                # checksum placeholder
        hdr[156] = ord("0")                    # regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chksum = sum(hdr)
        hdr[148:156] = (f"%06o" % chksum).encode("ascii") + b"\x00 "
        out += hdr
        out += data
        pad = (-len(data)) % 512
        out += b"\x00" * pad
    out += b"\x00" * 1024
    return bytes(out)


def tar_list(buf: bytes) -> list[tuple[str, int, int]]:
    """Archive bytes → [(name, data_offset, size)], verifying each
    header checksum. Stops at the zero-block terminator."""
    out = []
    pos = 0
    while pos + 512 <= len(buf):
        hdr = buf[pos : pos + 512]
        if hdr == b"\x00" * 512:
            break
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != calc:
            raise ValueError(f"tar header checksum mismatch at {pos}")
        name = hdr[:100].split(b"\x00")[0].decode("utf-8")
        size = int(hdr[124:136].split(b"\x00")[0].strip(), 8)
        out.append((name, pos + 512, size))
        pos += 512 + size + ((-size) % 512)
    return out
