"""Round-8 replication-client surface: caching_sha2_password fast
path + AuthSwitchRequest fallback (the reference's go-mysql dep
authenticates against stock MySQL 8.0, ``go.mod:10`` wired at
``internal/sync_server/sync.go:44-118`` — 8.0's DEFAULT plugin is
caching_sha2_password, so a client without it cannot connect to an
unmodified server), GTID auto-position resume
(COM_BINLOG_DUMP_GTID — past-the-reference failover safety; galaxy
itself resumes by (file, pos), ``pkg/shared.go:13-14``), the
bounded tail-decode buffer under XID-less commit markers, and the
relay writer's FDE re-seed on a checksum-config rotation.

Every test drives the real client bytes against an in-process fake
master that VERIFIES them server-side (independent proof
recomputation, independent GTID-set wire parse)."""

from __future__ import annotations

import hashlib
import os
import socket
import struct
import threading

import pytest

from galaxy_spark.cdc import replication_client as rc
from galaxy_spark.cdc.binlog import decode_binlog
from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                BinlogWriter)

SCRAMBLE = bytes(range(1, 21))
SCRAMBLE2 = bytes(range(101, 121))              # post-switch nonce
USER, PASSWORD = "repl", "s3cret"
SID_HEX = "0f81a2b3c4d5e6f7081922aabbccddee"
SID_UUID = "0f81a2b3-c4d5-e6f7-0819-22aabbccddee"

COLS = [(LONG, 0), (VARCHAR, 64)]


def _native_want(password: str, scramble: bytes) -> bytes:
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    return bytes(a ^ b for a, b in zip(
        h1, hashlib.sha1(scramble + h2).digest()))


def _sha2_want(password: str, scramble: bytes) -> bytes:
    h1 = hashlib.sha256(password.encode()).digest()
    h2 = hashlib.sha256(h1).digest()
    return bytes(a ^ b for a, b in zip(
        h1, hashlib.sha256(h2 + scramble).digest()))


def _txn_stream(gnos: list[int], checksum: str = "crc32") \
        -> tuple[bytes, list[bytes]]:
    """A binlog stream of one transaction per GNO (GTID, BEGIN,
    TABLE_MAP, one insert carrying the GNO, XID). Returns
    (full stream bytes, per-event byte list sans magic)."""
    w = BinlogWriter(checksum=checksum)
    w.format_description()
    for g in gnos:
        w.gtid(SID_HEX, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", COLS)
        w.write_rows(7, COLS, [[g, f"order-{g}"]])
        w.xid(900 + g)
    blob = w.bytes()
    events, off = [], 4
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        events.append(blob[off:off + size])
        off += size
    return blob, events


class Master(threading.Thread):
    """Configurable fake server: announced auth plugin, optional
    AuthSwitchRequest, optional sha2 full-auth demand, and BOTH
    dump commands — verifying every client byte server-side."""

    def __init__(self, sock, *, plugin="mysql_native_password",
                 password=PASSWORD, switch_to=None, sha2_full=False,
                 transactions=None, fde=None, tls_ctx=None,
                 rsa_key=None):
        super().__init__(daemon=True)
        self.sock = sock
        self.plugin = plugin
        self.password = password
        self.switch_to = switch_to
        self.sha2_full = sha2_full
        self.transactions = transactions or []   # [(gno, [events])]
        self.fde = fde
        self.tls_ctx = tls_ctx                   # server SSLContext
        self.rsa_key = rsa_key                   # (pem, n, d) triple
        self.seen: dict = {}
        self.error: Exception | None = None

    def _send(self, payload: bytes, seq: int) -> None:
        self.sock.sendall(rc.frame_packet(payload, seq))

    def _read(self) -> bytes:
        head = b""
        while len(head) < 4:
            chunk = self.sock.recv(4 - len(head))
            if not chunk:
                raise ConnectionError("client closed")
            head += chunk
        n = head[0] | (head[1] << 8) | (head[2] << 16)
        payload = b""
        while len(payload) < n:
            payload += self.sock.recv(n - len(payload))
        return payload

    def run(self) -> None:
        try:
            self._run()
        except Exception as exc:
            self.error = exc

    def _handshake(self) -> None:
        low = (rc.CLIENT_SECURE_CONNECTION
               | rc.CLIENT_PROTOCOL_41
               | (rc.CLIENT_SSL if self.tls_ctx is not None
                  else 0)) & 0xFFFF
        hs = (bytes([10]) + b"8.4.0-fake\x00"
              + struct.pack("<I", 99) + SCRAMBLE[:8] + b"\x00"
              + struct.pack("<H", low)
              + bytes([33]) + struct.pack("<H", 2)
              + struct.pack("<H", rc.CLIENT_PLUGIN_AUTH >> 16)
              + bytes([21]) + bytes(10)
              + SCRAMBLE[8:] + b"\x00"
              + self.plugin.encode() + b"\x00")
        self._send(hs, 0)
        resp = self._read()
        if len(resp) == 32:                      # SSLRequest prefix
            (caps,) = struct.unpack_from("<I", resp, 0)
            assert caps & rc.CLIENT_SSL, \
                "32-byte response without CLIENT_SSL"
            assert self.tls_ctx is not None, \
                "client requested TLS but master has no cert"
            self.sock = self.tls_ctx.wrap_socket(self.sock,
                                                 server_side=True)
            self.seen["tls"] = True
            resp = self._read()                  # real response, TLS
        p = 32
        nul = resp.index(b"\x00", p)
        self.seen["user"] = resp[p:nul].decode()
        p = nul + 1
        n = resp[p]
        proof = resp[p + 1:p + 1 + n]
        self.seen["client_plugin"] = resp[p + 1 + n:-1].decode()

        if self.switch_to is not None:
            self._send(b"\xfe" + self.switch_to.encode() + b"\x00"
                       + SCRAMBLE2 + b"\x00", 2)
            proof = self._read()
            want = (_native_want if self.switch_to
                    == "mysql_native_password" else _sha2_want)(
                        self.password, SCRAMBLE2)
            self.seen["auth_ok"] = proof == want
            self.seen["switch_answered"] = True
        elif self.plugin == "caching_sha2_password":
            self.seen["auth_ok"] = proof == _sha2_want(
                self.password, SCRAMBLE)
            if self.seen["auth_ok"] and self.sha2_full:
                self._send(b"\x01\x04", 2)       # full auth demand
                self.seen["sent_full_auth"] = True
                if not self.seen.get("tls"):
                    # plaintext: the RSA-envelope sub-protocol —
                    # client requests the public key (0x02), the
                    # key arrives as AuthMoreData, the envelope is
                    # decrypted and un-XORed SERVER-SIDE with
                    # independent OAEP arithmetic
                    frame = self._read()
                    self.seen["key_requested"] = frame == b"\x02"
                    if self.rsa_key is None:
                        return                   # no key configured
                    assert self.seen["key_requested"], \
                        f"expected key request, got {frame[:8]!r}"
                    pem, n, d = self.rsa_key
                    self._send(b"\x01" + pem, 4)
                    env = self._read()
                    msg = _oaep_sha1_decrypt(env, n, d)
                    want = bytes(
                        b ^ SCRAMBLE[i % len(SCRAMBLE)]
                        for i, b in enumerate(
                            self.password.encode() + b"\x00"))
                    self.seen["rsa_ok"] = msg == want
                    self.seen["full_ok"] = self.seen["rsa_ok"]
                    if not self.seen["rsa_ok"]:
                        self._send(b"\xff" + struct.pack("<H", 1045)
                                   + b"#28000Access denied", 6)
                        self.seen["auth_ok"] = False
                        return
                    self._send(b"\x00\x00\x00\x02\x00\x00\x00", 6)
                    return
                frame = self._read()             # cleartext pwd+NUL
                self.seen["full_ok"] = \
                    frame == self.password.encode() + b"\x00"
                if not self.seen["full_ok"]:
                    self._send(b"\xff" + struct.pack("<H", 1045)
                               + b"#28000Access denied", 4)
                    self.seen["auth_ok"] = False
                    return
                self._send(b"\x00\x00\x00\x02\x00\x00\x00", 4)
                return
            if self.seen["auth_ok"]:
                self._send(b"\x01\x03", 2)       # fast-auth success
        else:
            self.seen["auth_ok"] = proof == _native_want(
                self.password, SCRAMBLE)
        if not self.seen["auth_ok"]:
            self._send(b"\xff" + struct.pack("<H", 1045)
                       + b"#28000Access denied", 3)
            return
        self._send(b"\x00\x00\x00\x02\x00\x00\x00", 3)

    def _run(self) -> None:
        self._handshake()
        if not self.seen.get("auth_ok"):
            return
        if self.sha2_full and not self.seen.get("full_ok"):
            return                               # plaintext refusal
        cmd = self._read()                       # SET checksum
        assert cmd[0] == rc.COM_QUERY
        self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)
        cmd = self._read()                       # REGISTER_SLAVE
        assert cmd[0] == rc.COM_REGISTER_SLAVE
        self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)
        cmd = self._read()                       # dump command
        self.seen["dump_cmd"] = cmd[0]
        covered = set()
        if cmd[0] == rc.COM_BINLOG_DUMP_GTID:
            flags, server_id = struct.unpack_from("<HI", cmd, 1)
            self.seen["dump_flags"] = flags
            (name_len,) = struct.unpack_from("<I", cmd, 7)
            p = 11 + name_len
            self.seen["dump_file"] = cmd[11:p].decode()
            (pos,) = struct.unpack_from("<Q", cmd, p)
            p += 8
            (data_len,) = struct.unpack_from("<I", cmd, p)
            p += 4
            data = cmd[p:p + data_len]
            # INDEPENDENT wire parse of the client's gtid set,
            # both layouts: tagged (8.3+, n_sids field = n*8+1,
            # per-tsid 1-byte-length tag block) and pre-8.3
            # untagged — entries keyed (sid, tag, gno), tag ""
            # for untagged
            (head,) = struct.unpack_from("<Q", data, 0)
            q = 8
            if head % 8 == 1 and head > 1:
                for _ in range(head // 8):
                    sid = data[q:q + 16].hex()
                    tlen = data[q + 16]
                    q += 17
                    tag = data[q:q + tlen].decode()
                    q += tlen
                    (n_ivs,) = struct.unpack_from("<Q", data, q)
                    q += 8
                    for _ in range(n_ivs):
                        s, e = struct.unpack_from("<QQ", data, q)
                        q += 16
                        covered.update(
                            (sid, tag, g) for g in range(s, e))
                assert q == len(data)
            else:
                for _ in range(head):
                    sid = data[q:q + 16].hex()
                    (n_ivs,) = struct.unpack_from("<Q", data, q + 16)
                    q += 24
                    for _ in range(n_ivs):
                        s, e = struct.unpack_from("<QQ", data, q)
                        q += 16
                        covered.update(
                            (sid, "", g) for g in range(s, e))
            self.seen["gtid_raw"] = data
            self.seen["covered"] = set(covered)
        seq = 1
        if self.fde is not None:
            self._send(b"\x00" + self.fde, seq)
            seq += 1
        for gno, events in self.transactions:
            if (SID_HEX, "", gno) in covered:
                continue                         # auto-position skip
            for ev in events:
                self._send(b"\x00" + ev, seq)
                seq += 1
        self._send(b"\xfe\x00\x00\x02\x00", seq)
        self.sock.close()


def _pair():
    return socket.socketpair()


def _txns_from_stream(events: list[bytes]) -> tuple[bytes, list]:
    """Group a per-event list into (fde, [(gno, [events])])."""
    fde = next(e for e in events if e[4] == 15)
    txns, cur_gno, cur = [], None, []
    for ev in events:
        if ev[4] == 15:
            continue
        if ev[4] == 33:                          # GTID opens a txn
            if cur_gno is not None:
                txns.append((cur_gno, cur))
            body = ev[19:]
            cur_gno = struct.unpack_from("<Q", body, 17)[0]
            cur = [ev]
        else:
            cur.append(ev)
    if cur_gno is not None:
        txns.append((cur_gno, cur))
    return fde, txns


# ---- caching_sha2_password -------------------------------------------

def test_sha2_fast_path_authenticates_and_streams():
    _, events = _txn_stream([1])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password",
               transactions=txns, fde=fde)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["auth_ok"] and m.seen["user"] == USER
    assert m.seen["client_plugin"] == "caching_sha2_password"
    ins = [e for e in got if e.kind == "insert"]
    assert len(ins) == 1 and ins[0].rows[0][0] == ["1", "order-1"]


def test_sha2_wrong_password_refused():
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password")
    m.start()
    with pytest.raises(ConnectionError, match="authentication failed"):
        list(rc.tail_binlog(c, USER, "wrong", server_id=3,
                            file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None and m.seen["auth_ok"] is False


# ---- the RSA-envelope fixture (independent of the client module) ---

#: deterministic 512-bit primes (Miller-Rabin, seed 20260815)
_RSA_P = int(
    "da7025bb9a9ee6f654cccbcb9f91e1423a78d8a1b321ee91bcdefd301ddfd28b"
    "8eb645e8d340d5152b02a2ad44f5676b336eff7a7a56779f1d336defacbde01d",
    16)
_RSA_Q = int(
    "95e5692a47a8894f7aff43ea88ebd9c4b31a9aaed17686c4f4f2a5fcdf92ad89"
    "4373b2e30aa242c6afe777daa79eda6ddd331439e9685673cabf9fc304f5138f",
    16)
_RSA_N = _RSA_P * _RSA_Q
_RSA_E = 65537


def _rsa_d() -> int:
    import math

    return pow(_RSA_E, -1, math.lcm(_RSA_P - 1, _RSA_Q - 1))


def _der_int(v: int) -> bytes:
    b = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
    if b[0] & 0x80:
        b = b"\x00" + b                  # keep it non-negative
    return b"\x02" + _der_len(len(b)) + b


def _der_len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(raw)]) + raw


def _der_seq(*parts: bytes) -> bytes:
    body = b"".join(parts)
    return b"\x30" + _der_len(len(body)) + body


def _pem_wrap(der: bytes, label: str) -> bytes:
    import base64

    b64 = base64.b64encode(der)
    lines = [b64[i:i + 64] for i in range(0, len(b64), 64)]
    return (f"-----BEGIN {label}-----\n".encode()
            + b"\n".join(lines)
            + f"\n-----END {label}-----\n".encode())


def _rsa_pem(spki: bool = True) -> bytes:
    """The server's public key in either PEM form MySQL emits."""
    pkcs1 = _der_seq(_der_int(_RSA_N), _der_int(_RSA_E))
    if not spki:
        return _pem_wrap(pkcs1, "RSA PUBLIC KEY")
    oid = bytes.fromhex("06092a864886f70d010101") + b"\x05\x00"
    bits = b"\x03" + _der_len(len(pkcs1) + 1) + b"\x00" + pkcs1
    return _pem_wrap(_der_seq(_der_seq(oid), bits), "PUBLIC KEY")


def _mgf1(seed: bytes, length: int) -> bytes:
    out = b""
    i = 0
    while len(out) < length:
        out += hashlib.sha1(seed + struct.pack(">I", i)).digest()
        i += 1
    return out[:length]


def _oaep_sha1_decrypt(ciphertext: bytes, n: int, d: int) -> bytes:
    """Independent server-side RSA-OAEP(SHA-1) decrypt: textbook
    pow + RFC 8017 EME-OAEP decode (the arithmetic a real server's
    RSA_PKCS1_OAEP_PADDING performs)."""
    k = (n.bit_length() + 7) // 8
    em = pow(int.from_bytes(ciphertext, "big"), d, n) \
        .to_bytes(k, "big")
    assert em[0] == 0, "EM must lead with a zero byte"
    masked_seed, masked_db = em[1:21], em[21:]
    seed = bytes(a ^ b for a, b in
                 zip(masked_seed, _mgf1(masked_db, 20)))
    db = bytes(a ^ b for a, b in
               zip(masked_db, _mgf1(seed, k - 21)))
    assert db[:20] == hashlib.sha1(b"").digest(), "lHash mismatch"
    sep = db.index(b"\x01", 20)
    assert set(db[20:sep]) <= {0}, "bad OAEP padding"
    return db[sep + 1:]


def test_rsa_public_key_parses_both_pem_forms():
    for spki in (True, False):
        n, e = rc.parse_rsa_public_key(_rsa_pem(spki))
        assert (n, e) == (_RSA_N, _RSA_E)
    with pytest.raises(ValueError, match="empty PEM"):
        rc.parse_rsa_public_key(b"")
    with pytest.raises(ValueError):
        rc.parse_rsa_public_key(
            b"-----BEGIN PUBLIC KEY-----\nAAAA\n-----END PUBLIC KEY-----")


def test_oaep_envelope_roundtrip_and_structure():
    """Client encrypt -> independent decrypt == message; the EM
    leads with 0x00 and a different nonce yields a different
    ciphertext (the XOR binds it to the handshake)."""
    msg = rc.xor_password_scramble(PASSWORD, SCRAMBLE)
    fixed = bytes(range(20))
    c1 = rc.rsa_oaep_sha1_encrypt(_rsa_pem(), msg,
                                  rand=lambda n: fixed[:n])
    assert _oaep_sha1_decrypt(c1, _RSA_N, _rsa_d()) == msg
    c2 = rc.rsa_oaep_sha1_encrypt(_rsa_pem(False), msg,
                                  rand=lambda n: fixed[:n])
    assert c1 == c2                      # same key, both PEM forms
    msg2 = rc.xor_password_scramble(PASSWORD, SCRAMBLE2)
    c3 = rc.rsa_oaep_sha1_encrypt(_rsa_pem(), msg2,
                                  rand=lambda n: fixed[:n])
    assert c3 != c1
    too_long = bytes(128 - 2 * 20 - 1)
    with pytest.raises(ValueError, match="too long"):
        rc.rsa_oaep_sha1_encrypt(_rsa_pem(), too_long)


def test_sha2_full_auth_rsa_envelope_over_plaintext():
    """The last cell of the auth matrix (r9 verdict #3): FULL auth
    with NO TLS — the client requests the server's public key,
    OAEP-encrypts the scramble-XORed password, and the stream
    flows; the master decrypts and verifies the envelope with
    independent arithmetic."""
    _, events = _txn_stream([1])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password", sha2_full=True,
               transactions=txns, fde=fde,
               rsa_key=(_rsa_pem(), _RSA_N, _rsa_d()))
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["sent_full_auth"] and m.seen["key_requested"]
    assert m.seen["rsa_ok"] and m.seen["auth_ok"]
    assert not m.seen.get("tls")
    ins = [e for e in got if e.kind == "insert"]
    assert len(ins) == 1 and ins[0].rows[0][0] == ["1", "order-1"]


def test_sha2_full_auth_rsa_wrong_password_refused():
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password", sha2_full=True,
               rsa_key=(_rsa_pem(), _RSA_N, _rsa_d()))
    m.start()
    with pytest.raises(ConnectionError, match="authentication failed"):
        list(rc.tail_binlog(c, USER, "wrong", server_id=3,
                            file="binlog.000001", pos=4))
    m.join(timeout=10)
    # the fast-path proof already fails before any envelope: the
    # master refuses at the scramble stage
    assert m.error is None and m.seen["auth_ok"] is False


def test_sha2_full_auth_rsa_wrong_envelope_refused():
    """Same password through the fast proof, but the ENVELOPE
    carries a different password (cache poisoned / proxy tamper
    analog): the server-side decrypt must catch it and the client
    surface the ERR."""
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password", sha2_full=True,
               password=PASSWORD,
               rsa_key=(_rsa_pem(), _RSA_N, _rsa_d()))
    # make the CLIENT encrypt a different password than the proof:
    # monkeypatching xor_password_scramble keeps the fast proof
    # (computed from `password` arg) while corrupting the envelope
    orig = rc.xor_password_scramble
    rc.xor_password_scramble = lambda p, s_: orig("tampered", s_)
    try:
        m.start()
        with pytest.raises(ConnectionError,
                           match="authentication failed"):
            list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                                file="binlog.000001", pos=4))
    finally:
        rc.xor_password_scramble = orig
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["key_requested"] and m.seen["rsa_ok"] is False


def _tls_pair():
    """(server_ctx, client_ctx) from a freshly minted self-signed
    localhost certificate — the client VERIFIES the cert (loaded as
    its root) and the hostname, the posture a production replica
    should run with. Skips when no tool can mint a cert."""
    import shutil
    import ssl
    import subprocess
    import tempfile

    d = tempfile.mkdtemp(prefix="galaxy_tls_")
    cert = os.path.join(d, "cert.pem")
    key = os.path.join(d, "key.pem")
    if shutil.which("openssl"):
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048",
             "-keyout", key, "-out", cert, "-days", "3650",
             "-nodes", "-subj", "/CN=localhost",
             "-addext", "subjectAltName=DNS:localhost"],
            check=True, capture_output=True)
    else:
        pytest.skip("no openssl CLI to mint a test certificate")
    sctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    sctx.load_cert_chain(cert, key)
    cctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    cctx.load_verify_locations(cert)
    return sctx, cctx


def test_sha2_full_auth_completes_over_tls():
    """The first-ever connect for an account (no cached entry): the
    server demands FULL auth. Over TLS the client must complete it —
    SSLRequest upgrade, handshake response over the secure channel,
    then the cleartext-password frame — and stream binlog events on
    the same wrapped socket. The master independently verifies every
    byte (proof, password frame) server-side."""
    sctx, cctx = _tls_pair()
    _, events = _txn_stream([1])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password", sha2_full=True,
               transactions=txns, fde=fde, tls_ctx=sctx)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4,
                              ssl_context=cctx,
                              server_hostname="localhost"))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["tls"] and m.seen["sent_full_auth"]
    assert m.seen["full_ok"] and m.seen["auth_ok"]
    ins = [e for e in got if e.kind == "insert"]
    assert len(ins) == 1 and ins[0].rows[0][0] == ["1", "order-1"]


def test_sha2_full_auth_over_tls_wrong_password_refused():
    sctx, cctx = _tls_pair()
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password", sha2_full=True,
               tls_ctx=sctx)
    m.start()
    with pytest.raises(ConnectionError,
                       match="authentication failed"):
        list(rc.tail_binlog(c, USER, "wrong", server_id=3,
                            file="binlog.000001", pos=4,
                            ssl_context=cctx,
                            server_hostname="localhost"))
    m.join(timeout=10)
    assert m.error is None


def test_tls_request_refused_when_server_lacks_ssl_cap():
    """ssl_context against a server NOT announcing CLIENT_SSL must
    refuse BEFORE sending anything sensitive — never silently fall
    back to plaintext."""
    import ssl

    cctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password")
    m.start()
    with pytest.raises(ConnectionError, match="CLIENT_SSL"):
        list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                            file="binlog.000001", pos=4,
                            ssl_context=cctx,
                            server_hostname="localhost"))
    c.close()


def test_sha2_fast_path_over_tls_streams():
    """TLS with a CACHED entry: the fast path still applies (the
    scramble proof travels over the secure channel) and the stream
    flows over the wrapped socket end-to-end."""
    sctx, cctx = _tls_pair()
    _, events = _txn_stream([1])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password",
               transactions=txns, fde=fde, tls_ctx=sctx)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4,
                              ssl_context=cctx,
                              server_hostname="localhost"))
    m.join(timeout=10)
    assert m.error is None and m.seen["tls"] and m.seen["auth_ok"]
    ins = [e for e in got if e.kind == "insert"]
    assert len(ins) == 1 and ins[0].rows[0][0] == ["1", "order-1"]


def test_auth_switch_to_native_password():
    """8.0 server, user configured for mysql_native_password: the
    server answers the sha2 offer with AuthSwitchRequest + a FRESH
    scramble; the proof must be against the new scramble."""
    _, events = _txn_stream([1])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, plugin="caching_sha2_password",
               switch_to="mysql_native_password",
               transactions=txns, fde=fde)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["switch_answered"] and m.seen["auth_ok"]
    assert [e.kind for e in got if e.kind == "insert"] == ["insert"]


def test_auth_switch_to_sha2():
    """The reverse switch (native offer is never sent — the client
    follows the announced plugin — but a switch TO sha2 can happen
    when the announced plugin lies): proof against the new nonce."""
    c, s = _pair()
    m = Master(s, plugin="mysql_native_password",
               switch_to="caching_sha2_password",
               transactions=[], fde=None)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=3,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None and m.seen["auth_ok"]
    assert got == []


def test_unknown_announced_plugin_still_refused():
    c, s = _pair()

    def serve():
        m = Master(s, plugin="sha256_password")
        try:
            m._handshake()
        except Exception:
            pass

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    with pytest.raises(ValueError, match="unsupported auth plugin"):
        list(rc.tail_binlog(c, USER, PASSWORD, server_id=1,
                            file="binlog.000001", pos=4))
    t.join(timeout=10)


# ---- GTID auto-position ----------------------------------------------

def test_gtidset_parse_str_roundtrip_and_covers():
    g = rc.GtidSet.parse(f"{SID_UUID}:1-5:8,{SID_UUID}:6")
    # 6 coalesces 1-5 and 6 into 1-6
    assert str(g) == f"{SID_UUID}:1-6:8"
    assert g.covers(f"{SID_UUID}:4") and g.covers(f"{SID_UUID}:8")
    assert not g.covers(f"{SID_UUID}:7")
    assert not g.covers(f"{'0' * 32}:4")
    assert rc.GtidSet.decode(g.encode()).encode() == g.encode()
    assert str(rc.GtidSet.parse(str(g))) == str(g)


def test_gtid_dump_resumes_at_first_uncovered_transaction():
    """COM_BINLOG_DUMP_GTID with executed set {1,2}: the master
    (independently parsing the client's wire encoding) serves only
    transaction 3 — and the encoding itself is byte-checked."""
    _, events = _txn_stream([1, 2, 3])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, transactions=txns, fde=fde)
    m.start()
    gset = rc.GtidSet.parse(f"{SID_UUID}:1-2")
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=9,
                              file="", pos=4, gtid_set=gset))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["dump_cmd"] == rc.COM_BINLOG_DUMP_GTID
    assert m.seen["dump_flags"] & rc.BINLOG_THROUGH_GTID
    # independent byte check of the set encoding: 1 sid, 1 interval
    # [1, 3)
    assert m.seen["gtid_raw"] == (
        struct.pack("<Q", 1) + bytes.fromhex(SID_HEX)
        + struct.pack("<QQQ", 1, 1, 3))
    ins = [e for e in got if e.kind == "insert"]
    assert [r for e in ins for r in e.rows] == [[["3", "order-3"]]]
    gtids = [e.gtid for e in got if e.kind == "gtid"]
    assert gtids == [f"{SID_UUID}:3"]


def test_gtid_dump_all_covered_streams_nothing():
    _, events = _txn_stream([1, 2])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, transactions=txns, fde=fde)
    m.start()
    got = list(rc.tail_binlog(
        c, USER, PASSWORD, server_id=9, file="", pos=4,
        gtid_set=rc.GtidSet.parse(f"{SID_UUID}:1-2")))
    m.join(timeout=10)
    assert m.error is None
    assert [e.kind for e in got] == ["format_description"]


def test_gtid_dump_resumes_with_tagged_executed_set():
    """Auto-position resume when the executed set carries MySQL
    8.3+ TAGGED GTIDs (WL#15294): the client encodes the mixed set
    in the tagged wire layout; the master INDEPENDENTLY parses that
    layout (n_sids field = n*8+1, per-tsid length-prefixed tag
    block), sees the untagged interval {1,2} covered, and serves
    only transaction 3 — tag entries ride along without poisoning
    untagged coverage. Byte-checks the encoding end-to-end."""
    _, events = _txn_stream([1, 2, 3])
    fde, txns = _txns_from_stream(events)
    c, s = _pair()
    m = Master(s, transactions=txns, fde=fde)
    m.start()
    gset = rc.GtidSet.parse(
        f"{SID_UUID}:1-2:patch:1-9,{SID_UUID.replace('0f', '1f')}"
        f":maint_x:4")
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=9,
                              file="", pos=4, gtid_set=gset))
    m.join(timeout=10)
    assert m.error is None
    assert m.seen["dump_cmd"] == rc.COM_BINLOG_DUMP_GTID
    # independent byte check: 3 tsids (sorted by (sid, tag):
    # SID untagged, SID:patch, 1f-sid:maint_x), head = 3*8+1
    sid2 = SID_HEX.replace("0f", "1f", 1)
    assert m.seen["gtid_raw"] == (
        struct.pack("<Q", 25)
        + bytes.fromhex(SID_HEX) + b"\x00"
        + struct.pack("<QQQ", 1, 1, 3)
        + bytes.fromhex(SID_HEX) + b"\x05patch"
        + struct.pack("<QQQ", 1, 1, 10)
        + bytes.fromhex(sid2) + b"\x07maint_x"
        + struct.pack("<QQQ", 1, 4, 5))
    # the master's independent parse saw every tagged entry
    assert (SID_HEX, "patch", 9) in m.seen["covered"]
    assert (sid2, "maint_x", 4) in m.seen["covered"]
    assert (SID_HEX, "", 2) in m.seen["covered"]
    ins = [e for e in got if e.kind == "insert"]
    assert [r for e in ins for r in e.rows] == [[["3", "order-3"]]]
    gtids = [e.gtid for e in got if e.kind == "gtid"]
    assert gtids == [f"{SID_UUID}:3"]


# ---- bounded tail buffer without XID ---------------------------------

def test_tail_buffer_bounded_on_query_commit(monkeypatch):
    """MyISAM-style stream: transactions commit via QUERY 'COMMIT'
    (no XID anywhere). The decode buffer must still reset per
    transaction — the r7 reset keyed on XID/ROTATE grew without
    bound here (O(n^2) re-decode on a live tail)."""
    import galaxy_spark.cdc.binlog as B

    w = BinlogWriter()
    w.format_description()
    for g in range(1, 31):
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", COLS)
        w.write_rows(7, COLS, [[g, f"o{g}"]])
        w.query("shop", "COMMIT")                # no XID: MyISAM
    blob = w.bytes()[4:]
    events, off = [], 0
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        events.append(blob[off:off + size])
        off += size
    fde = events[0]
    txn = events[1:5]                            # one txn's 4 events

    max_decoded = []
    real = B.decode_binlog

    def spy(b):
        max_decoded.append(len(b))
        return real(b)

    monkeypatch.setattr(B, "decode_binlog", spy)
    c, s = _pair()
    m = Master(s, transactions=[(g, events[1 + (g - 1) * 4:
                                           1 + g * 4])
                                for g in range(1, 31)], fde=fde)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=2,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None
    assert sum(1 for e in got if e.kind == "insert") == 30
    txn_bytes = len(fde) + sum(len(e) for e in txn)
    assert max(max_decoded) <= txn_bytes + len(fde)


def test_tail_buffer_bounded_on_ddl_gtid_stretch(monkeypatch):
    """A DDL/GTID-only stretch (no XID, no rows): every QUERY is an
    auto-commit boundary, so the buffer must stay at O(one event),
    not accumulate the whole stretch."""
    import galaxy_spark.cdc.binlog as B

    w = BinlogWriter()
    w.format_description()
    for g in range(1, 41):
        w.gtid(SID_HEX, g)
        w.query("shop", f"ALTER TABLE t{g} ADD COLUMN c{g} INT")
    blob = w.bytes()[4:]
    events, off = [], 0
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        events.append(blob[off:off + size])
        off += size
    fde = events[0]

    max_decoded = []
    real = B.decode_binlog

    def spy(b):
        max_decoded.append(len(b))
        return real(b)

    monkeypatch.setattr(B, "decode_binlog", spy)
    c, s = _pair()
    m = Master(s, transactions=[(0, events[1:])], fde=fde)
    m.start()
    got = list(rc.tail_binlog(c, USER, PASSWORD, server_id=2,
                              file="binlog.000001", pos=4))
    m.join(timeout=10)
    assert m.error is None
    assert sum(1 for e in got if e.kind == "query") == 40
    biggest = max(len(e) for e in events)
    assert max(max_decoded) <= len(fde) + 2 * biggest


# ---- relay FDE re-seed on checksum-config rotation --------------------

def test_relay_reseeds_real_fde_after_config_change_rotation(tmp_path):
    """SET GLOBAL binlog_checksum forcibly rotates and the NEW
    segment's FDE declares a different checksum mode. The relay
    writer seeds rotated segments with the PREVIOUS FDE (so they
    decode standalone) — but when the real FDE arrives on a still-
    virgin segment it must REPLACE the seed, or every event in the
    segment decodes under the wrong checksum framing."""
    _, crc_events = _txn_stream([1], checksum="crc32")
    crc_fde, crc_txns = _txns_from_stream(crc_events)
    none_blob, none_events = _txn_stream([2], checksum="none")
    none_fde = next(e for e in none_events if e[4] == 15)
    _, none_txns = _txns_from_stream(none_events)

    # rotate event, CRC32-framed (emitted by the OLD stream)
    w = BinlogWriter(checksum="crc32")
    w.format_description()
    w.rotate("binlog.000002")
    rot = None
    blob = w.bytes()[4:]
    off = 0
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        ev = blob[off:off + size]
        if ev[4] == 4:
            rot = ev
        off += size

    class _Scripted(Master):
        def _run(self):
            self._handshake()
            for _ in range(2):                   # SET, REGISTER
                self._read()
                self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)
            self._read()                         # DUMP: stream starts
            seq = 1
            for ev in ([crc_fde] + [e for _, t in crc_txns
                                    for e in t]
                       + [rot, none_fde]
                       + [e for _, t in none_txns for e in t]):
                self._send(b"\x00" + ev, seq)
                seq += 1
            self._send(b"\xfe\x00\x00\x02\x00", seq)
            self.sock.close()

    c, s = _pair()
    m = _Scripted(s)
    m.start()
    relay_dir = str(tmp_path / "relay")
    n = rc.relay_to_segments(c, USER, PASSWORD, server_id=5,
                             file="binlog.000001", pos=4,
                             out_dir=relay_dir)
    m.join(timeout=10)
    assert m.error is None and n > 0
    assert sorted(os.listdir(relay_dir)) == [
        "binlog.000001.bin", "binlog.000002.bin"]
    # segment 2 must decode STANDALONE under its REAL (none) FDE —
    # with the stale CRC32 seed this either raises a checksum
    # mismatch or eats 4 trailer bytes as data
    with open(os.path.join(relay_dir, "binlog.000002.bin"),
              "rb") as f:
        seg2 = decode_binlog(f.read())
    kinds = [e.kind for e in seg2]
    assert kinds[0] == "format_description"
    ins = [e for e in seg2 if e.kind == "insert"]
    assert [r for e in ins for r in e.rows] == [[["2", "order-2"]]]
    # and segment 1 still decodes under CRC32
    with open(os.path.join(relay_dir, "binlog.000001.bin"),
              "rb") as f:
        seg1 = decode_binlog(f.read())
    assert [r for e in seg1 if e.kind == "insert"
            for r in e.rows] == [[["1", "order-1"]]]


def test_relay_keeps_seed_on_same_format_rotation(tmp_path):
    """A NORMAL rotation (flush logs / size limit): the new
    segment's real FDE differs from the carried seed only in its
    19-byte header (timestamp, log_pos) — the format is identical,
    so the seed must be KEPT, not rewritten. The r8 guard compared
    raw event bytes and fired the rewrite on every rotation (r9
    advice); the signature compare pins the intended behavior."""
    import zlib

    _, crc_events = _txn_stream([1], checksum="crc32")
    crc_fde, crc_txns = _txns_from_stream(crc_events)
    _, crc_events2 = _txn_stream([2], checksum="crc32")
    _, crc_txns2 = _txns_from_stream(crc_events2)

    # same-format FDE with a DIFFERENT header timestamp (as every
    # new segment's FDE has) — re-stamp and re-checksum
    body = crc_fde[:-4]
    body = struct.pack("<I", 1_800_000_000) + body[4:]
    crc_fde2 = body + struct.pack("<I", zlib.crc32(body))
    assert crc_fde2 != crc_fde

    w = BinlogWriter(checksum="crc32")
    w.format_description()
    w.rotate("binlog.000002")
    blob = w.bytes()[4:]
    rot, off = None, 0
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        ev = blob[off:off + size]
        if ev[4] == 4:
            rot = ev
        off += size

    class _Scripted(Master):
        def _run(self):
            self._handshake()
            for _ in range(2):                   # SET, REGISTER
                self._read()
                self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)
            self._read()                         # DUMP
            seq = 1
            for ev in ([crc_fde] + [e for _, t in crc_txns
                                    for e in t]
                       + [rot, crc_fde2]
                       + [e for _, t in crc_txns2 for e in t]):
                self._send(b"\x00" + ev, seq)
                seq += 1
            self._send(b"\xfe\x00\x00\x02\x00", seq)
            self.sock.close()

    c, s = _pair()
    m = _Scripted(s)
    m.start()
    relay_dir = str(tmp_path / "relay")
    n = rc.relay_to_segments(c, USER, PASSWORD, server_id=5,
                             file="binlog.000001", pos=4,
                             out_dir=relay_dir)
    m.join(timeout=10)
    assert m.error is None and n > 0
    with open(os.path.join(relay_dir, "binlog.000002.bin"),
              "rb") as f:
        seg2 = f.read()
    # the CARRIED seed (original header) is still the segment's FDE
    assert seg2[4:4 + len(crc_fde)] == crc_fde
    got = decode_binlog(seg2)
    assert [r for e in got if e.kind == "insert"
            for r in e.rows] == [[["2", "order-2"]]]


# ---- property tests --------------------------------------------------

def test_gtidset_roundtrip_properties():
    """Hypothesis: for random interval sets, text and wire forms
    both round-trip, coverage answers match the raw set, and
    encode() always emits coalesced disjoint [start, stop)
    intervals."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    sid = SID_UUID

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.tuples(st.integers(1, 200), st.integers(0, 9)),
                    min_size=1, max_size=20))
    def check(ranges):
        g = rc.GtidSet()
        covered = set()
        for start, span in ranges:
            for gno in range(start, start + span + 1):
                g.add(f"{sid}:{gno}")
                covered.add(gno)
        # text round-trip
        assert str(rc.GtidSet.parse(str(g))) == str(g)
        # wire round-trip
        assert rc.GtidSet.decode(g.encode()).encode() == g.encode()
        # coverage == the raw set, incl. boundary probes
        for gno in range(1, 215):
            assert g.covers(f"{sid}:{gno}") == (gno in covered)
        # encoded intervals are sorted, disjoint, non-adjacent
        import struct as _s

        data = g.encode()
        (n_sids,) = _s.unpack_from("<Q", data, 0)
        assert n_sids == 1
        (n_ivs,) = _s.unpack_from("<Q", data, 24)
        prev_stop = None
        for i in range(n_ivs):
            s_, e_ = _s.unpack_from("<QQ", data, 32 + 16 * i)
            assert s_ < e_
            if prev_stop is not None:
                assert s_ > prev_stop      # coalesced: gap required
            prev_stop = e_

    check()


def test_oaep_hypothesis_roundtrip():
    """Property: any message within the envelope bound round-trips
    through client-encrypt -> independent-decrypt for any seed —
    the OAEP masks are self-inverting XORs, so this exercises the
    full MGF1/padding geometry, not one lucky shape."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    d = _rsa_d()

    @given(st.binary(min_size=0, max_size=86),
           st.binary(min_size=20, max_size=20))
    @settings(max_examples=60, deadline=None)
    def check(msg, seed):
        c = rc.rsa_oaep_sha1_encrypt(_rsa_pem(), msg,
                                     rand=lambda n: seed[:n])
        assert _oaep_sha1_decrypt(c, _RSA_N, d) == msg

    check()


def test_tagged_decode_rejects_malformed_and_falls_back():
    """r11 review: the tagged/untagged wire disambiguation must
    validate tagged intervals (1 <= start < stop) so a misrouted
    untagged blob has to thread tag charset AND interval order AND
    exact consumption to be wrongly accepted — and a 9-sid untagged
    set (head % 8 == 1, the overlap case) decodes correctly via the
    fallback."""
    g = rc.GtidSet()
    for i in range(9):
        g._insert((f"{i:02x}" + "ab" * 15, ""), 1, 4)
    assert str(rc.GtidSet.decode(g.encode())) == str(g)
    # a tagged blob with a reversed interval is rejected loudly
    # (it cannot be a valid untagged set either)
    bad = (struct.pack("<Q", 9)                 # 1 tsid, tagged mark
           + bytes.fromhex(SID_HEX) + b"\x01x"
           + struct.pack("<QQQ", 1, 5, 3))
    import pytest as _pytest
    with _pytest.raises(Exception):
        rc.GtidSet.decode(bad)


def test_tagged_decode_tolerates_checksum_tail_untagged_rejects_garbage():
    """(a) the tagged decode requires exact consumption: every
    reader trims a CRC32 trailer before decoding, so a 4-byte tail
    after the set is refused, not read past; (b)
    the untagged branch must reject reversed intervals loudly
    instead of building a set whose covers() disagrees with its
    own text form (reproduced corruption)."""
    g = rc.GtidSet.parse(f"{SID_UUID}:patch:1-5")
    blob = g.encode()
    assert str(rc.GtidSet.decode(blob)) == str(g)
    with pytest.raises((ValueError, struct.error)):
        rc.GtidSet.decode(blob + b"\x12\x34\x56\x78")
    # a 7-byte tail is neither a valid tagged set (trailing bytes)
    # nor a plausible untagged one (head = 9 sids needs far more
    # bytes) — refused loudly either way
    with pytest.raises((ValueError, struct.error)):
        rc.GtidSet.decode(blob + b"\x00" * 7)
    bad = (struct.pack("<Q", 1) + bytes.fromhex(SID_HEX)
           + struct.pack("<QQQ", 1, 5, 3))       # untagged, 5 > 3
    with pytest.raises(ValueError, match="interval"):
        rc.GtidSet.decode(bad)


def test_serialization_varint_hypothesis_roundtrips():
    """mysql::serialization codec properties: every u64 round-trips
    through the variable-length encoding at its minimal width,
    every i64 through the zigzag form, and decode is total on the
    encoder's range (hypothesis sweep on top of the boundary
    vectors in test_binlog_source)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from galaxy_spark.cdc.mysql_serialization import (
        read_varsint, read_varuint, write_varsint, write_varuint)

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=(1 << 64) - 1))
    def roundtrip_u(v):
        buf = write_varuint(v)
        got, off = read_varuint(buf, 0)
        assert (got, off) == (v, len(buf))
        # minimal width: one fewer byte cannot hold the value
        n = len(buf)
        if n <= 8:
            assert n == 1 or v >= (1 << (7 * (n - 1)))
        else:
            assert v >= (1 << 56)

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=-(1 << 63),
                       max_value=(1 << 63) - 1))
    def roundtrip_s(v):
        buf = write_varsint(v)
        got, off = read_varsint(buf, 0)
        assert (got, off) == (v, len(buf))

    roundtrip_u()
    roundtrip_s()


def test_tagged_body_decode_hypothesis_never_crashes():
    """decode_tagged_gtid is TOTAL over arbitrary bytes: any input
    returns a tuple or None, never raises — the property the
    conservative-fallback design rests on (a malformed body must
    degrade to the r11 resume boundary, not kill the source)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from galaxy_spark.cdc.mysql_serialization import \
        decode_tagged_gtid

    @settings(max_examples=400, deadline=None)
    @given(st.binary(max_size=120))
    def total(body):
        out = decode_tagged_gtid(body)
        assert out is None or (
            isinstance(out, tuple) and len(out) == 3
            and 1 <= out[2] < (1 << 63))

    total()


def test_tagged_body_decode_hand_assembled_spec_vectors():
    """A THIRD witness for the mysql::serialization decode (r12
    ADVICE): the production decoder and the fixture encoder were
    both written from the same reading of the public format doc, so
    a shared misreading of the varint/field-id layout would
    round-trip green. These vectors are assembled BYTE BY BYTE in
    comments directly from the format's published rules — no call
    into either implementation — so the three artifacts (decoder,
    encoder, literal bytes) can only agree if the reading of the
    spec is self-consistent at the byte level.

    Varint rule under test: the count of trailing 1-bits of the
    FIRST byte = extra bytes c; value = little-endian(c+1 bytes)
    >> (c+1). One-byte values therefore appear as v << 1.
    """
    from galaxy_spark.cdc.mysql_serialization import \
        decode_tagged_gtid

    # --- vector 1: every mandatory field one-byte encoded --------
    body = bytes([
        0x04,                            # version 2      (2 << 1)
        0x00,                            # field id 0     (0 << 1)
        0x01,                            # gtid_flags = 1 (fixed u8)
        0x02,                            # field id 1     (1 << 1)
        # uuid 3e11fa47-71ca-11e1-9e33-c80aa9429562 (16 raw bytes)
        0x3e, 0x11, 0xfa, 0x47, 0x71, 0xca, 0x11, 0xe1,
        0x9e, 0x33, 0xc8, 0x0a, 0xa9, 0x42, 0x95, 0x62,
        0x04,                            # field id 2     (2 << 1)
        0x1c,                            # gno 7: zigzag 14, 14 << 1
        0x06,                            # field id 3     (3 << 1)
        0x04,                            # tag length 2   (2 << 1)
        0x61, 0x61,                      # "aa"
        0x08,                            # field id 4     (4 << 1)
        0x00,                            # last_committed 0
        0x0a,                            # field id 5     (5 << 1)
        0x04,                            # sequence_number 1 (zz 2)
        0x10,                            # field id 8 (6/7 SKIPPED —
                                         #   optional-absence path)
        0xb1, 0x04,                      # txn_length 300: c=1 so
                                         #   raw = (300 << 2) | 0b01
                                         #   = 1201 = 0x04b1 LE
    ])
    assert decode_tagged_gtid(body) == (
        "3e11fa47-71ca-11e1-9e33-c80aa9429562", "aa", 7)

    # --- vector 2: multi-byte gno, empty tag ----------------------
    # gno 123456789 -> zigzag 246913578 (needs 28 bits -> 4 bytes,
    # c = 3): raw = (246913578 << 4) | 0b0111, little-endian
    zz = 123456789 << 1
    gno_bytes = ((zz << 4) | 0b0111).to_bytes(4, "little")
    body2 = (bytes([0x04, 0x00, 0x00, 0x02])
             + bytes(range(16))          # uuid 000102...0f
             + bytes([0x04]) + gno_bytes
             + bytes([0x06, 0x00]))      # tag "" (length 0)
    assert decode_tagged_gtid(body2) == (
        "00010203-0405-0607-0809-0a0b0c0d0e0f", "", 123456789)

    # --- vector 3: 9-byte escape varint (first byte 0xFF) --------
    # txn_length 2**60 cannot fit 8 varint bytes -> 0xFF + raw u64
    body3 = (body2 + bytes([0x10, 0xff])
             + (1 << 60).to_bytes(8, "little"))
    assert decode_tagged_gtid(body3) == (
        "00010203-0405-0607-0809-0a0b0c0d0e0f", "", 123456789)

    # --- negative controls off vector 1 ---------------------------
    assert decode_tagged_gtid(body[:-1]) is None   # torn boundary
    # field 3's id byte (offset 22) rewritten to id 2 again ->
    # non-increasing id, refused
    assert decode_tagged_gtid(
        body[:22] + bytes([0x04]) + body[23:]) is None
    assert decode_tagged_gtid(
        bytes([0x12]) + body[1:]) is None  # future version 9 > 3
