#!/usr/bin/env python3
"""Large allocations in a JFR recording, grouped by allocation site.

Prints every `jdk.ObjectAllocationOutsideTLAB` event at or above a size
threshold, grouped by the frame that asked for the memory, with the
count, the MB and the largest size per site. On G1 an object of half a
heap region or more is humongous, so pass half the region size of the
recorded JVM (1m for 2 MB regions, the size G1 picks for a 4 GB heap).

The allocation site is the first frame outside the JDK, Scala and
Spark's memory allocators, with Scala's lambda and companion names
folded back to the method that wrote them
(`TorrentBroadcast$.$anonfun$blockifyObject$1` reads
`TorrentBroadcast.blockifyObject`).

The event is off in the stock settings. Write a settings file that is
the JDK's `default.jfc` with it turned on, then record a run with it:

    python3 tools/jfr_humongous.py --jfc /tmp/humongous.jfc
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=settings=/tmp/humongous.jfc,filename=/tmp/run.jfr" \\
      python3 perfbench/run.py --workload curation --seed 7 --seconds 5 --trace 0
    python3 tools/jfr_humongous.py /tmp/run.jfr --threshold 1m

Reads the recording through the JDK's `jfr print --json`, one event at
a time (the JSON of a benchmark run is over a GB).
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
from collections import defaultdict

EVENT = "jdk.ObjectAllocationOutsideTLAB"
# frames that only pass an allocation on: the JDK, Scala, Spark's allocators
PLUMBING = ("java.", "jdk.", "sun.", "scala.",
            "org.apache.spark.unsafe.memory.", "org.apache.spark.memory.")
ANONFUN = re.compile(r"\$anonfun\$(.+?)\$\d+")


def jfr_tool():
    found = shutil.which("jfr")
    if found:
        return found
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    sys.exit("jfr_humongous: no `jfr` on PATH or in $JAVA_HOME/bin")


def parse_size(text):
    m = re.fullmatch(r"(\d+)([kmg]?)b?", text.strip().lower())
    if not m:
        raise argparse.ArgumentTypeError(f"not a size: {text!r}")
    return int(m.group(1)) << {"": 0, "k": 10, "m": 20, "g": 30}[m.group(2)]


def events(stream, chunk=1 << 20):
    """Yield each event object of `jfr print --json` output as it is read."""
    dec = json.JSONDecoder()
    buf = ""
    while "[" not in buf:  # {"recording": {"events": [
        data = stream.read(chunk)
        if not data:
            return
        buf += data
    pos = buf.index("[") + 1
    eof = False
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf) and buf[pos] == "]":
            return
        try:
            obj, end = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            data = stream.read(chunk)
            eof = not data
            buf = buf[pos:] + data
            pos = 0
            continue
        yield obj
        pos = end


def frame_name(frame):
    method = frame["method"]
    cls = method["type"]["name"].replace("/", ".")
    return cls, method["name"]


def site(frames):
    for f in frames:
        cls, meth = frame_name(f)
        if cls.startswith(PLUMBING):
            continue
        m = ANONFUN.search(meth)
        meth = m.group(1) if m else meth
        return cls.rsplit(".", 1)[-1].rstrip("$") + "." + meth
    return "(no frame outside the allocators)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", nargs="?", help="a .jfr file")
    ap.add_argument("--threshold", type=parse_size, default=parse_size("1m"),
                    help="smallest allocation to count, e.g. 512k or 1m (default 1m)")
    ap.add_argument("--depth", type=int, default=64,
                    help="stack frames to read per event (default 64)")
    ap.add_argument("--top", type=int, default=20, help="sites to print (default 20)")
    ap.add_argument("--jfc", metavar="OUT",
                    help="write the stock default.jfc with the event turned on to OUT, then exit")
    a = ap.parse_args()
    if a.jfc:
        subprocess.run([jfr_tool(), "configure", "--input", "default.jfc",
                        f"{EVENT}#enabled=true", "--output", a.jfc], check=True)
        return
    if not a.recording:
        ap.error("give a recording, or --jfc OUT")
    proc = subprocess.Popen(
        [jfr_tool(), "print", "--json", "--stack-depth", str(a.depth),
         "--events", EVENT, a.recording], stdout=subprocess.PIPE, text=True)
    n = 0
    by_site = defaultdict(lambda: [0, 0, 0])  # count, bytes, largest
    for ev in events(proc.stdout):
        n += 1
        v = ev["values"]
        size = v["allocationSize"]
        if size < a.threshold:
            continue
        s = by_site[site((v.get("stackTrace") or {}).get("frames", []))]
        s[0] += 1
        s[1] += size
        s[2] = max(s[2], size)
    if proc.wait() != 0:
        sys.exit(f"jfr_humongous: jfr print exited with {proc.returncode}")
    rows = sorted(by_site.items(), key=lambda kv: -kv[1][1])
    total = sum(s[1] for s in by_site.values())
    print(f"{n} events, {sum(s[0] for s in by_site.values())} at or above "
          f"{a.threshold} bytes, {total / 2 ** 20:,.0f} MB")
    print(f"{'MB':>8} {'count':>6} {'largest':>10}  site")
    for name, (count, size, largest) in rows[:a.top]:
        print(f"{size / 2 ** 20:>8,.0f} {count:>6} {largest:>10}  {name}")
    if len(rows) > a.top:
        rest = rows[a.top:]
        print(f"{sum(s[1] for _, s in rest) / 2 ** 20:>8,.0f} "
              f"{sum(s[0] for _, s in rest):>6} {'':>10}  ({len(rest)} more sites)")


if __name__ == "__main__":
    main()
