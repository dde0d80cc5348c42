#!/usr/bin/env python3
"""Where a benchmark JVM spent a time window, from a flight recording.

Record one `serve_during_ingest` run with the JDK's flight recorder,
print the recording as JSON, and read it with this script:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile,dumponexit=true" \\
        python3 archbench/run.py --workload serve_during_ingest --seed N --seconds 12 --trace 0
    jfr print --json --stack-depth 64 \\
        --events jdk.ExecutionSample,jdk.ObjectAllocationSample,jdk.GCPhasePause,jdk.JVMInformation \\
        run.jfr > run.json
    python3 scripts/jfr_share.py run.json --log .bench_build/archbench/runs/<run>.log

The window is given in JVM uptime seconds, either as `--window START END`
or derived from the run's log (`--log`): the timed window starts
`--warmup` seconds (6) after the last `setup` phase line and lasts
`--seconds` (12). The recording is read as a stream, so a recording of
a whole run needs no more memory than one event.

It prints, for events inside the window:
  - the HTTP threads' share of the execution samples (a thread sample
    is an HTTP one when its stack holds `HttpArchiveServer`), split by
    code path: each sample goes to the first path in PATHS (or the
    `--path LABEL=REGEX` options, tried first) whose pattern matches a
    frame of its stack;
  - the top allocation sites by sampled weight, for the HTTP threads
    and for the whole process (a site is the first frame outside the
    JDK and the Scala library, with the allocated class);
  - the G1 pause count and their total time.
Python 3 standard library only.
"""
import argparse
import collections
import datetime
import json
import re
import sys

# (label, pattern over "package.Class.method" frame names, `$` read as `.`)
PATHS = [
    ("first-touch decode",
     r"DirectServe\.(decodeFile|scanChannel)|DirectServeTyped\.decode"),
    ("cached wire encode",
     r"DirectServe\.ScalarRows\.json|DirectServeTyped\.encode"),
    ("m4/lttb path",
     r"DirectPanels\.(m4Points|lttb)|DirectServe\.(tryRawRows|jsonOf|PanelRows)"
     r"|fastPoints"),
    ("frame and send",
     r"HttpArchiveServer\.(sendJsonArray|frameJsonArray|sendJsonBytes"
     r"|streamJsonArray)"),
    ("version probes",
     r"VersionLog\.|ManifestStore\.latestManifest|ConfigCommands\.state"
     r"|StateLog\."),
    ("direct serve, other", r"DirectServe"),
    ("Hadoop Path / URI parsing",
     r"org\.apache\.hadoop\.fs\.Path\.|java\.net\.URI\."),
    ("Spark engine", r"org\.apache\.spark\."),
]
HTTP_MARK = "HttpArchiveServer"
LIBRARY = re.compile(r"^(java|javax|jdk|sun|scala)\.")


def instant(s):
    """An ISO-8601 UTC instant with up to nanosecond digits, in seconds."""
    s = s.rstrip("Z")
    base, _, frac = s.partition(".")
    t = datetime.datetime.strptime(base, "%Y-%m-%dT%H:%M:%S").replace(
        tzinfo=datetime.timezone.utc).timestamp()
    return t + (float("0." + frac) if frac else 0.0)


def duration(s):
    """An ISO-8601 duration as `jfr print --json` writes it (PT…S)."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", s)
    if not m:
        raise ValueError(f"unreadable duration {s!r}")
    h, mi, sec = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(sec or 0)


def events(stream):
    """The event objects of `jfr print --json` output, one at a time."""
    dec = json.JSONDecoder()
    buf = ""
    pos = 0
    # skip to the array that holds the events
    while True:
        i = buf.find("[", pos)
        if i >= 0 and '"events"' in buf[:i]:
            pos = i + 1
            break
        chunk = stream.read(1 << 20)
        if not chunk:
            return
        buf += chunk
    while True:
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf):
                break
            chunk = stream.read(1 << 20)
            if not chunk:
                return
            buf, pos = buf[pos:] + chunk, 0
        if buf[pos] == "]":
            return
        try:
            ev, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            chunk = stream.read(1 << 20)
            if not chunk:
                raise
            buf, pos = buf[pos:] + chunk, 0
            continue
        yield ev
        pos = end
        if pos > (1 << 22):
            buf, pos = buf[pos:], 0


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    out = []
    for f in st.get("frames") or []:
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?")
        cls = re.sub(r"\.+", ".", cls.replace("/", ".").replace("$", ".")).strip(".")
        out.append(f"{cls}.{m.get('name', '?')}")
    return out


def window_from_log(path, warmup, seconds):
    last = None
    with open(path) as f:
        for line in f:
            m = re.match(r"\[archbench \+([\d.]+)s\] setup: ", line)
            if m:
                last = float(m.group(1))
    if last is None:
        sys.exit(f"jfr_share: no 'setup:' phase line in {path}")
    return last + warmup, last + warmup + seconds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="`jfr print --json` output, or - for stdin")
    ap.add_argument("--window", nargs=2, type=float, metavar=("START", "END"),
                    help="JVM uptime seconds")
    ap.add_argument("--log", help="the run's log; derives the window")
    ap.add_argument("--warmup", type=float, default=6.0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--top", type=int, default=12)
    ap.add_argument("--path", action="append", default=[],
                    metavar="LABEL=REGEX", help="a code path tried first")
    a = ap.parse_args()
    if (a.window is None) == (a.log is None):
        ap.error("give exactly one of --window and --log")
    lo, hi = a.window if a.window else window_from_log(a.log, a.warmup,
                                                        a.seconds)
    paths = [tuple(p.split("=", 1)) for p in a.path] + PATHS
    paths = [(label, re.compile(rx)) for label, rx in paths]

    t0 = None  # the JVM's start, seconds since the epoch
    pending = []  # events read before jdk.JVMInformation
    samples = collections.Counter()
    http_paths = collections.Counter()
    alloc_all = collections.Counter()
    alloc_http = collections.Counter()
    pauses = []
    span = [None, None]

    def take(ev):
        typ = ev["type"]
        v = ev["values"]
        up = instant(v["startTime"]) - t0
        span[0] = up if span[0] is None else min(span[0], up)
        span[1] = up if span[1] is None else max(span[1], up)
        if not lo <= up <= hi:
            return
        if typ == "jdk.GCPhasePause":
            pauses.append(duration(v["duration"]))
            return
        fs = frames(ev)
        http = any(HTTP_MARK in f for f in fs)
        if typ == "jdk.ExecutionSample":
            samples["http" if http else "other"] += 1
            if http:
                label = next((lb for lb, rx in paths
                              if any(rx.search(f) for f in fs)), "other")
                http_paths[label] += 1
        elif typ == "jdk.ObjectAllocationSample":
            cls = (v.get("objectClass") or {}).get("name", "?")
            site = next((f for f in fs if not LIBRARY.match(f)),
                        fs[0] if fs else "?")
            key = (site, cls.replace("/", "."))
            w = v.get("weight") or 0
            alloc_all[key] += w
            if http:
                alloc_http[key] += w

    src = sys.stdin if a.json == "-" else open(a.json)
    with src:
        for ev in events(src):
            if ev["type"] == "jdk.JVMInformation":
                t0 = instant(ev["values"]["jvmStartTime"])
                for p in pending:
                    take(p)
                pending = []
            elif t0 is None:
                pending.append(ev)
            else:
                take(ev)
    if t0 is None:
        sys.exit("jfr_share: the recording holds no jdk.JVMInformation event")

    print(f"window: [{lo:.1f}, {hi:.1f}] s of JVM uptime "
          f"(recording events span [{span[0]:.1f}, {span[1]:.1f}])")
    total = samples["http"] + samples["other"]
    h = samples["http"]
    print(f"execution samples: {total}; HTTP threads {h} "
          f"({100.0 * h / max(total, 1):.1f} %)")
    for label, n in http_paths.most_common():
        print(f"  {label:<28} {n:>7}  {100.0 * n / max(h, 1):5.1f} % of HTTP")
    for name, table in (("HTTP threads", alloc_http),
                        ("whole process", alloc_all)):
        tot = sum(table.values())
        print(f"allocation, {name}: {tot / 1e6:.1f} MB sampled weight")
        for (site, cls), w in table.most_common(a.top):
            print(f"  {100.0 * w / max(tot, 1):5.1f} %  {w / 1e6:9.1f} MB  "
                  f"{site}  [{cls}]")
    print(f"G1 pauses: {len(pauses)}, total {sum(pauses):.3f} s")


if __name__ == "__main__":
    main()
