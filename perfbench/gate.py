"""Correctness gate, run outside the timed window after every drain.

Decryption is done here with the `cryptography` package, independently
of the program's own Envelope code: RSA-OAEP unwrap of the data key, then
AES-GCM, or AES-EAX as CTR keyed by OMAC^0(nonce) (the program discards
the EAX tag, like the reference), then zlib.
"""

import base64
import hashlib
import json
import os
import random
import zlib

from cryptography.hazmat.primitives import cmac, hashes
from cryptography.hazmat.primitives.asymmetric import padding
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

METADATA_KEYS = {"iv", "ciphertext", "datakeyencryptionkeyid"}

# JCE's "RSA/ECB/OAEPWithSHA-256AndMGF1Padding" defaults MGF1 to SHA-1
# while the OAEP label hash is SHA-256.
OAEP = padding.OAEP(mgf=padding.MGF1(hashes.SHA1()), algorithm=hashes.SHA256(), label=None)


class Store:
    """A landed store as {key: (data path, metadata path)}."""

    def __init__(self, root, meta_suffix):
        self.root = root
        self.objects = {}
        if not os.path.isdir(root):
            return
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(meta_suffix):
                    continue
                p = os.path.join(dirpath, f)
                self.objects[os.path.relpath(p, root)] = (p, p + meta_suffix)

    def metadata(self, key):
        path = self.objects[key][1]
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def body(self, key):
        with open(self.objects[key][0], "rb") as f:
            return f.read()

    def stored_bytes(self):
        return sum(
            os.path.getsize(d) + (os.path.getsize(m) if os.path.exists(m) else 0)
            for d, m in self.objects.values()
        )

    def snapshot(self):
        """(key, size, mtime) of every data and metadata file."""
        snap = set()
        for d, m in self.objects.values():
            for p in (d, m):
                if os.path.exists(p):
                    st = os.stat(p)
                    snap.add((os.path.relpath(p, self.root), st.st_size, st.st_mtime_ns))
        return snap


def local_store(root):
    return Store(root, ".metadata.json")


def endpoint_store(root):
    return Store(root, ".meta.json")


def _omac(key, t, msg):
    c = cmac.CMAC(algorithms.AES(key))
    c.update(bytes(15) + bytes([t]) + msg)
    return c.finalize()


def decrypt(body, meta, private_key, mode):
    data_key = private_key.decrypt(base64.b64decode(meta["ciphertext"]), OAEP)
    iv = base64.b64decode(meta["iv"])
    if mode == "gcm":
        compressed = AESGCM(data_key).decrypt(iv, body, None)
    else:
        d = Cipher(algorithms.AES(data_key), modes.CTR(_omac(data_key, 0, iv))).decryptor()
        compressed = d.update(body) + d.finalize()
    return zlib.decompress(compressed)


def check_store(store, expected, key_id, private_key, mode, verify_keys):
    """Gate one landed store against the expected manifest.

    Returns (failed record count, list of problems). Every expected key
    must be present and no other key may exist; every object must carry
    exactly the three metadata keys; objects in `verify_keys` must
    decrypt to their source bytes.
    """
    problems = []
    failed = set()
    landed = set(store.objects)
    for k in sorted(set(expected) - landed):
        failed.add(k)
        problems.append(f"missing {k}")
    for k in sorted(landed - set(expected)):
        failed.add(k)
        problems.append(f"unexpected key {k}")
    for k in sorted(landed & set(expected)):
        meta = store.metadata(k)
        if meta is None or set(meta) != METADATA_KEYS or meta["datakeyencryptionkeyid"] != key_id:
            failed.add(k)
            problems.append(f"bad metadata on {k}: {sorted(meta or {})}")
    for k in verify_keys:
        if k in failed or k not in landed:
            continue
        try:
            plain = decrypt(store.body(k), store.metadata(k), private_key, mode)
            ok = (hashlib.sha256(plain).hexdigest(), len(plain)) == tuple(expected[k])
        except Exception as e:  # any decode failure is a failed record
            ok = False
            problems.append(f"decrypt {k}: {type(e).__name__}: {e}")
        if not ok:
            failed.add(k)
            problems.append(f"content mismatch {k}")
    return len(failed), problems


def check_rows(rows_tsv, expected):
    """Gate the reader's output: one row per expected object, each with
    its source's sha256 and length. Returns (failed, problems)."""
    seen = {}
    with open(rows_tsv) as f:
        for line in f:
            key, digest, length = line.rstrip("\n").split("\t")
            seen[key] = (digest, int(length))
    problems = []
    failed = 0
    for k, want in expected.items():
        if tuple(want) != seen.get(k):
            failed += 1
            problems.append(f"row {k}: want {tuple(want)} got {seen.get(k)}")
    extra = set(seen) - set(expected)
    failed += len(extra)
    problems += [f"unexpected row {k}" for k in sorted(extra)]
    return failed, problems


def sample(keys, n, seed):
    keys = sorted(keys)
    return keys if len(keys) <= n else random.Random(f"sample:{seed}").sample(keys, n)


def read_progress(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read().strip()


def committed_offsets(ckpt):
    """Source offsets {topic-partition: next offset} of the last committed
    micro-batch; {} when nothing committed."""
    commits = os.path.join(ckpt, "commits")
    ids = [int(n) for n in os.listdir(commits) if n.isdigit()] if os.path.isdir(commits) else []
    if not ids:
        return {}
    with open(os.path.join(ckpt, "offsets", str(max(ids)))) as f:
        lines = f.read().splitlines()
    offsets = {}
    for line in lines[2:]:  # "v1", batch metadata, then one line per source
        if line.startswith("{"):
            offsets.update(json.loads(line))
    return offsets


def tree_snapshot(root):
    snap = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            snap.add((os.path.relpath(os.path.join(dirpath, f), root), st.st_size, st.st_mtime_ns))
    return snap
