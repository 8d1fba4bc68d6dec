"""Seeded input generator for the capture workloads.

Captures are built only from the committed fixtures under
src/test/resources: fix.pcap replicas (client IP and port remapped per
replica, timestamps shifted), one mixed.pcap or sweep_extra.pcap copy per
file for protocol breadth, and SYN-only flows cloned from fix.pcap frame 1
with seeded endpoints to grow the conversation table. Bytes are written
here, not through the engine's PcapWriter, so the inputs do not depend on
the code under test.

Every expected answer in the manifest comes from the generator's own
bookkeeping and from the committed tshark goldens
(src/test/resources/tshark_golden/*.tsv), never from a scan.

    python3 perfbench/gen.py <pcap_scan|probe> <seed> <out_dir>
"""
import gzip
import hashlib
import json
import os
import random
import shutil
import struct
import sys

FIXTURES = os.path.join("src", "test", "resources")
GOLDEN = os.path.join(FIXTURES, "tshark_golden")

# fix.pcap: one FIX session, client 127.0.0.1:53867 <-> server 127.0.0.1:11001
FIX_CLIENT_PORT = 53867
FIX_SERVER_PORT = 11001

# capture shapes (sizes are fixed; the seed moves endpoints and times only)
FULL_FILES = 8               # the whole-file set: 2 x nproc on a 4-core box
FULL_REPLICAS_PER_FILE = 16  # fix.pcap replicas per file (~5.3 MB)
FULL_SYNS_PER_FILE = 3000    # SYN-only flows per file
NARROW_REPLICAS = 192        # the split capture: one ~62 MB classic file
NARROW_SYNS = 2000
PROBE_REPLICAS = 16          # layer-probe capture for sql_pipeline's traced run
PROBE_SYNS = 2000


def read_pcap(path):
    """(header bytes, [(sec, usec, frame bytes, orig_len)]) of a classic
    little-endian microsecond pcap."""
    with open(path, "rb") as f:
        b = f.read()
    if b[:4] != bytes.fromhex("d4c3b2a1"):
        raise ValueError(f"{path}: expected a little-endian microsecond pcap")
    recs, off = [], 24
    while off + 16 <= len(b):
        sec, usec, incl, orig = struct.unpack_from("<IIII", b, off)
        recs.append((sec, usec, b[off + 16:off + 16 + incl], orig))
        off += 16 + incl
    return b[:24], recs


def read_golden(name):
    """(column names, rows as dicts) of a committed tshark golden."""
    with open(os.path.join(GOLDEN, name + ".tsv"), encoding="utf-8") as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    cols = lines[0][len("#fields:"):].split("\t")
    return cols, [dict(zip(cols, l.split("\t"))) for l in lines[1:]]


def golden_stats(name):
    _, rows = read_golden(name)
    tcp = [r for r in rows if r.get("tcp.stream", "")]
    return {
        "frames": len(rows),
        "frame_len": sum(int(r["frame.len"]) for r in rows),
        "tcp_frames": len(tcp),
        "tcp_len": sum(int(r["tcp.len"]) for r in tcp if r.get("tcp.len", "")),
        "tcp_streams": len({r["tcp.stream"] for r in tcp}),
        "fix_frames": sum(1 for r in rows if "fix" in r["frame.protocols"].split(":")),
    }


def csum_adjust(csum, old, new):
    """RFC 1624 incremental update of a ones-complement checksum for a
    change of the 16-bit-aligned bytes `old` -> `new`."""
    s = (~csum) & 0xFFFF
    for i in range(0, len(old), 2):
        s += (~((old[i] << 8) | old[i + 1])) & 0xFFFF
        s += (new[i] << 8) | new[i + 1]
    while s >> 16:
        s = (s & 0xFFFF) + (s >> 16)
    return (~s) & 0xFFFF


def rewrite_endpoint(frame, src, ip, port):
    """Copy of an Ethernet/IPv4/TCP frame with the source (src=True) or
    destination endpoint replaced, IP and TCP checksums kept valid."""
    b = bytearray(frame)
    ihl = (b[14] & 0x0F) * 4
    ip_off = 26 if src else 30
    tcp = 14 + ihl
    port_off = tcp if src else tcp + 2
    old_ip, old_port = bytes(b[ip_off:ip_off + 4]), bytes(b[port_off:port_off + 2])
    new_port = struct.pack(">H", port)
    b[ip_off:ip_off + 4] = ip
    b[port_off:port_off + 2] = new_port
    ip_sum = struct.unpack_from(">H", b, 24)[0]
    struct.pack_into(">H", b, 24, csum_adjust(ip_sum, old_ip, ip))
    tcp_sum = struct.unpack_from(">H", b, tcp + 16)[0]
    struct.pack_into(">H", b, tcp + 16,
                     csum_adjust(tcp_sum, old_ip + old_port, ip + new_port))
    return bytes(b)


class Builder:
    """Accumulates records plus the bookkeeping the checks need."""

    def __init__(self):
        self.records = []  # (ts_usec, frame, orig_len)
        self.frame_len = 0
        self.flagship = {}  # (srcport, dstport) -> [count, sum tcp.len]
        self.seconds = set()

    def add(self, ts, frame, orig, ports=None, tcp_len=0):
        self.records.append((ts, frame, orig))
        self.frame_len += orig
        self.seconds.add(ts // 1_000_000)
        if ports is not None:
            g = self.flagship.setdefault(ports, [0, 0])
            g[0] += 1
            g[1] += tcp_len


def tcp_payload_len(frame):
    ihl = (frame[14] & 0x0F) * 4
    ip_len = struct.unpack_from(">H", frame, 16)[0]
    return ip_len - ihl - (frame[14 + ihl + 12] >> 4) * 4


def add_fix_replica(bld, fix_recs, t0, client_ip, client_port):
    base = fix_recs[0][0] * 1_000_000 + fix_recs[0][1]
    for sec, usec, frame, orig in fix_recs:
        ts = t0 + sec * 1_000_000 + usec - base
        sport = struct.unpack_from(">H", frame, 34)[0]
        from_client = sport == FIX_CLIENT_PORT
        out = rewrite_endpoint(frame, from_client, client_ip, client_port)
        ports = (client_port, FIX_SERVER_PORT) if from_client else (FIX_SERVER_PORT, client_port)
        bld.add(ts, out, orig, ports, tcp_payload_len(frame))


def add_syn(bld, syn_template, ts, sip, sport, dip, dport):
    f = rewrite_endpoint(syn_template, True, sip, sport)
    f = rewrite_endpoint(f, False, dip, dport)
    bld.add(ts, f, len(f), (sport, dport), 0)


def add_verbatim(bld, recs, t0):
    base = recs[0][0] * 1_000_000 + recs[0][1]
    for sec, usec, frame, orig in recs:
        bld.add(t0 + sec * 1_000_000 + usec - base, frame, orig)


def fill_fix_and_syns(bld, rng, fix_recs, t0, replicas, syns):
    """`replicas` fix sessions with SYN-only flows interleaved between them.
    Client IPs are unique per replica within one capture, and every
    (srcport, dstport) pair is unique so flagship groups never merge."""
    syn_template = fix_recs[0][2]
    client_ips = rng.sample(range(1, 1 << 22), replicas)
    syn_srcs = rng.sample(range(1, 1 << 20), syns)
    syn_dsts = [rng.randrange(1, 1 << 16) for _ in range(syns)]
    used_ports = set()

    def fresh_port():
        while True:
            p = rng.randrange(1024, 65536)
            if p not in used_ports and p not in (FIX_SERVER_PORT, FIX_CLIENT_PORT):
                used_ports.add(p)
                return p

    ts = t0
    per_gap = syns // replicas if replicas else syns
    s = 0
    for r in range(replicas):
        ip = struct.pack(">I", (10 << 24) + (64 << 16) + client_ips[r])
        add_fix_replica(bld, fix_recs, ts, ip, fresh_port())
        for _ in range(per_gap if r < replicas - 1 else syns - s):
            sip = struct.pack(">I", (172 << 24) + (16 << 16) + syn_srcs[s])
            dip = struct.pack(">I", (192 << 24) | (168 << 16) | syn_dsts[s])
            add_syn(bld, syn_template, ts + rng.randrange(0, 2_000_000),
                    sip, fresh_port(), dip, fresh_port())
            s += 1
        # sessions overlap: the next one starts 0.5-3 s after this one
        ts += rng.randrange(500_000, 3_000_000)


def pcap_bytes(header, records):
    out = [header]
    for ts, frame, orig in records:
        out.append(struct.pack("<IIII", ts // 1_000_000, ts % 1_000_000, len(frame), orig))
        out.append(frame)
    return b"".join(out)


def pcapng_bytes(records, linktype=1):
    def block(btype, body):
        pad = (-len(body)) % 4
        total = 12 + len(body) + pad
        return struct.pack("<II", btype, total) + body + b"\0" * pad + struct.pack("<I", total)

    out = [block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1)),
           block(0x00000001, struct.pack("<HHI", linktype, 0, 262144))]
    for ts, frame, orig in records:
        out.append(block(0x00000006, struct.pack(
            "<IIIII", 0, ts >> 32, ts & 0xFFFFFFFF, len(frame), orig) + frame))
    return b"".join(out)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def write_capture(path, header, records, kind):
    data = pcap_bytes(header, records) if kind != "pcapng" else pcapng_bytes(records)
    if kind == "gzip":
        with open(path, "wb") as raw, gzip.GzipFile(
                filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=6) as gz:
            gz.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
    return {"name": os.path.basename(path), "format": kind,
            "bytes": os.path.getsize(path), "sha256": sha256(path),
            "packets": len(records)}


def gen_full(rng, out):
    """The whole-file set: FULL_FILES captures in three formats."""
    header, fix_recs = read_pcap(os.path.join(FIXTURES, "fix.pcap"))
    fix_g = golden_stats("fix")
    breadth = {n: (read_pcap(os.path.join(FIXTURES, n + ".pcap"))[1], golden_stats(n))
               for n in ("mixed", "sweep_extra")}
    caps = os.path.join(out, "full")
    os.makedirs(caps)
    files, exp = [], {"packets": 0, "frame_len": 0, "tcp_frames": 0, "tcp_len": 0,
                      "fix_frames": 0, "tcp_streams": 0}
    for i in range(FULL_FILES):
        bld = Builder()
        t0 = rng.randrange(1_400_000_000, 1_700_000_000) * 1_000_000
        # alternate the breadth fixture: mixed and sweep_extra share a
        # 4-tuple, so one file carries only one of them
        name = "mixed" if i % 2 == 0 else "sweep_extra"
        recs, g = breadth[name]
        add_verbatim(bld, recs, t0)
        fill_fix_and_syns(bld, rng, fix_recs, t0 + 60_000_000,
                          FULL_REPLICAS_PER_FILE, FULL_SYNS_PER_FILE)
        kind = "pcapng" if i == FULL_FILES - 2 else "gzip" if i == FULL_FILES - 1 else "pcap"
        ext = {"pcap": ".pcap", "pcapng": ".pcapng", "gzip": ".pcap.gz"}[kind]
        files.append(write_capture(os.path.join(caps, f"part{i:02d}{ext}"), header,
                                   bld.records, kind))
        streams = g["tcp_streams"] + FULL_REPLICAS_PER_FILE + FULL_SYNS_PER_FILE
        exp["packets"] += len(bld.records)
        exp["frame_len"] += bld.frame_len
        exp["tcp_frames"] += (g["tcp_frames"] + FULL_REPLICAS_PER_FILE * fix_g["tcp_frames"]
                              + FULL_SYNS_PER_FILE)
        exp["tcp_len"] += g["tcp_len"] + FULL_REPLICAS_PER_FILE * fix_g["tcp_len"]
        exp["fix_frames"] += g["fix_frames"] + FULL_REPLICAS_PER_FILE * fix_g["fix_frames"]
        # tcp.stream numbering restarts per file: the distinct ids across
        # the set are those of the file with the most conversations
        exp["tcp_streams"] = max(exp["tcp_streams"], streams)
    # an unmodified fix.pcap copy for the tshark-golden check
    shutil.copy(os.path.join(FIXTURES, "fix.pcap"), os.path.join(out, "fix.pcap"))
    return {"dir": "full", "files": files, "expected": exp}


def gen_single(rng, out, name, replicas, syns):
    """One classic capture of fix replicas and SYN-only flows."""
    header, fix_recs = read_pcap(os.path.join(FIXTURES, "fix.pcap"))
    bld = Builder()
    t0 = rng.randrange(1_400_000_000, 1_700_000_000) * 1_000_000
    fill_fix_and_syns(bld, rng, fix_recs, t0, replicas, syns)
    caps = os.path.join(out, name)
    os.makedirs(caps)
    f = write_capture(os.path.join(caps, name + ".pcap"), header, bld.records, "pcap")
    groups = list(bld.flagship.values())
    exp = {
        "packets": len(bld.records),
        "frame_len": bld.frame_len,
        "seconds": len(bld.seconds),
        "flagship_groups": len(groups),
        "flagship_count": sum(g[0] for g in groups),
        "flagship_tcp_len": sum(g[1] for g in groups),
        # per-replica README flagship totals, one pair per replica
        "server_groups_429_259678": sum(1 for g in groups if g == [429, 259678]),
        "client_groups_56_19702": sum(1 for g in groups if g == [56, 19702]),
        "syn_groups_1_0": sum(1 for g in groups if g == [1, 0]),
    }
    return {"dir": name, "files": [f], "expected": exp}


def generate(workload, seed, out):
    rng = random.Random(f"{workload}:{seed}")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if workload == "pcap_scan":
        full = gen_full(rng, out)
        m = {"full": full, "narrow": gen_single(rng, out, "narrow", NARROW_REPLICAS, NARROW_SYNS),
             # sweep_extra's file: the broadest protocol mix of the set
             "layer_file": os.path.join(full["dir"], full["files"][1]["name"]),
             "golden_file": "fix.pcap"}
    elif workload == "probe":
        m = {"probe": gen_single(rng, out, "probe", PROBE_REPLICAS, PROBE_SYNS),
             "layer_file": os.path.join("probe", "probe.pcap")}
    else:
        raise ValueError(f"no capture workload {workload}")
    m.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
