#!/usr/bin/env python3
"""Top inclusive frames per thread from a JFR recording's execution samples.

Usage:
  python3 tools/jfr_top.py <recording.jfr> [--from-ms N --to-ms N]
                           [--thread PREFIX] [--top N] [--grep TEXT]

Runs `jfr print --json --events jdk.ExecutionSample` (the JDK's `jfr` tool)
and streams its output, one event at a time, so a long recording never sits
in memory as one JSON document. A frame is `package.Class.method`; a sample
counts once for every distinct frame on its stack (inclusive), so a frame's
count is the number of samples taken while it was running or below.

Threads are grouped by name with every digit run replaced by `#`, so Spark's
"Executor task launch worker for task 3.0 in stage 7.0 (TID 12)" threads
pool into one group. `--thread` keeps groups whose name starts with PREFIX.
`--from-ms`/`--to-ms` keep samples taken that many milliseconds after the
recording started (jdk.ActiveRecording's `recordingStart`, or the first
sample when the recording has no such event). `--grep` also prints, per
group, how many samples have a frame whose name contains TEXT.

Record with e.g. `java -XX:StartFlightRecording=filename=x.jfr,settings=profile
-XX:FlightRecorderOptions=stackdepth=256 ...`; JFR keeps 64 frames a stack by
default and drops the outermost ones of a deeper stack.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

# frames printed per stack: above any depth a recording keeps (JFR's default
# is 64; -XX:FlightRecorderOptions=stackdepth raises it)
STACK_DEPTH = 1024


def parse_time(s):
    """ISO-8601 instant with up to nanosecond digits → epoch milliseconds."""
    m = re.match(r'(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?Z$', s)
    base = datetime.datetime.strptime(m.group(1), '%Y-%m-%dT%H:%M:%S')
    frac = (m.group(2) or '0')[:6].ljust(6, '0')
    base = base.replace(microsecond=int(frac), tzinfo=datetime.timezone.utc)
    return base.timestamp() * 1000.0


def events(path, event, stack_depth):
    """Yield each event object of `jfr print --json`, decoded one at a time."""
    proc = subprocess.Popen(
        ['jfr', 'print', '--json', '--stack-depth', str(stack_depth),
         '--events', event, path],
        stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    dec = json.JSONDecoder()
    buf = ''
    started = False
    read_all = False
    try:
        for chunk in iter(lambda: proc.stdout.read(1 << 20), ''):
            buf += chunk
            if not started:
                i = buf.find('"events": [')
                if i < 0:
                    continue
                buf = buf[i + len('"events": ['):]
                started = True
            while True:
                buf = buf.lstrip(' \t\r\n,')
                if not buf.startswith('{'):
                    break
                try:
                    obj, end = dec.raw_decode(buf)
                except json.JSONDecodeError:
                    break  # the event continues in the next chunk
                yield obj
                buf = buf[end:]
        read_all = True
    finally:
        if not read_all:  # the caller stopped early
            proc.kill()
        rc = proc.wait()
    if rc != 0:
        sys.exit(f'jfr_top: jfr print failed on {path}')


def recording_start(path):
    for e in events(path, 'jdk.ActiveRecording', 1):
        return parse_time(e['values']['recordingStart'])
    return None


def frame_name(f):
    m = f['method']
    return m['type']['name'].replace('/', '.') + '.' + m['name']


def main():
    p = argparse.ArgumentParser()
    p.add_argument('recording')
    p.add_argument('--from-ms', type=float, default=None)
    p.add_argument('--to-ms', type=float, default=None)
    p.add_argument('--thread', default='')
    p.add_argument('--top', type=int, default=20)
    p.add_argument('--grep', default=None)
    a = p.parse_args()

    t0 = recording_start(a.recording)
    samples = collections.Counter()
    frames = collections.defaultdict(collections.Counter)
    grepped = collections.Counter()
    for e in events(a.recording, 'jdk.ExecutionSample', STACK_DEPTH):
        v = e['values']
        t = parse_time(v['startTime'])
        if t0 is None:
            t0 = t
        ms = t - t0
        if (a.from_ms is not None and ms < a.from_ms) or (a.to_ms is not None and ms >= a.to_ms):
            continue
        thread = v['sampledThread'] or {}
        name = re.sub(r'\d+', '#', thread.get('javaName') or thread.get('osName') or '?')
        if not name.startswith(a.thread):
            continue
        stack = {frame_name(f) for f in ((v.get('stackTrace') or {}).get('frames') or [])}
        samples[name] += 1
        frames[name].update(stack)
        if a.grep is not None and any(a.grep in f for f in stack):
            grepped[name] += 1

    window = f'{a.from_ms if a.from_ms is not None else 0:.0f} ms to ' + (
        f'{a.to_ms:.0f} ms' if a.to_ms is not None else 'the end')
    print(f'{sum(samples.values())} samples, {window} after the recording started')
    for name, n in samples.most_common():
        print(f'\n{name}: {n} samples' + (
            f', {grepped[name]} with a frame containing {a.grep!r}' if a.grep is not None else ''))
        for f, c in frames[name].most_common(a.top):
            print(f'  {c:7d} {100.0 * c / n:5.1f}%  {f}')


if __name__ == '__main__':
    main()
