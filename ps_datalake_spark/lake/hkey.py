"""Hkey: the handle returned by every put, encoding how to reconstruct a blob.

Mirrors the observable Hkey variants of the reference
(/root/reference/src/store/mod.rs:383,391,401,416,425):

  raw:<base64url>                   inline payload, nothing stored (≤ MAX_SIZE_RAW)
  plain:<hash>:<size>               stored unencrypted (encryption would expand)
  enc:<hash>:<key>:<size>           stored ciphertext; key is convergent
  tree:<roothash>:<size>            root of a chunk-tree manifest (large blobs);
                                    per-child keys live in the manifests table

The string form is the public API; the struct form is the engine's.
"""

from __future__ import annotations

import base64
import re
from dataclasses import dataclass

from ..errors import InvalidHkey

KINDS = ("raw", "plain", "enc", "tree")

# A chunk hash or convergent key: sha256, 64 lowercase hex digits. Point reads
# build a directory name from the hash's first digits, so nothing else may pass.
HASH_RE = re.compile(r"[0-9a-f]{64}")


def _hex64(v: str, s: str) -> str:
    if not HASH_RE.fullmatch(v):
        raise InvalidHkey(s)
    return v


@dataclass(frozen=True)
class Hkey:
    kind: str
    hash: str | None = None  # sha256 hex of the *stored* bytes (ciphertext)
    key: str | None = None  # convergent key, hex (enc/tree)
    size: int = 0  # plaintext size
    inline: bytes | None = None  # raw payloads only

    def encode(self) -> str:
        if self.kind == "raw":
            return "raw:" + base64.urlsafe_b64encode(self.inline or b"").decode("ascii")
        if self.kind in ("plain", "tree"):
            return f"{self.kind}:{self.hash}:{self.size}"
        if self.kind == "enc":
            return f"enc:{self.hash}:{self.key}:{self.size}"
        raise InvalidHkey(f"unknown kind {self.kind!r}")

    @staticmethod
    def decode(s: str) -> "Hkey":
        try:
            kind, _, rest = s.partition(":")
            if kind == "raw":
                return Hkey(kind="raw", inline=base64.urlsafe_b64decode(rest), size=0)
            if kind in ("plain", "tree"):
                h, sz = rest.rsplit(":", 1)
                return Hkey(kind=kind, hash=_hex64(h, s), size=int(sz))
            if kind == "enc":
                h, key, sz = rest.split(":")
                return Hkey(kind=kind, hash=_hex64(h, s), key=_hex64(key, s), size=int(sz))
        except (ValueError, TypeError) as e:
            raise InvalidHkey(s) from e
        raise InvalidHkey(s)
