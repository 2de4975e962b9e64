#!/usr/bin/env python3
"""Top inclusive frames per thread from a JFR recording: on-CPU samples,
parked time, or the processes the JVM started.

Usage:
  python3 tools/jfr_top.py <recording.jfr> [--park | --processes]
                           [--from-ms N --to-ms N]
                           [--thread PREFIX] [--top N] [--grep TEXT]

Runs `jfr print --json --events <event>` (the JDK's `jfr` tool) and streams
its output, one event at a time, so a long recording never sits in memory as
one JSON document. A frame is `package.Class.method`.

Default: `jdk.ExecutionSample`. A sample counts once for every distinct frame
on its stack (inclusive), so a frame's count is the number of samples taken
while it was running or below.

`--park`: `jdk.ThreadPark`. Prints each thread group's parked time, split by
waiting site: the innermost two frames of the park's stack that are outside
the JDK and the Scala library (and are not lambda frames), e.g.
`org.apache.spark.util.ThreadUtils$.awaitReady < org.apache.spark.scheduler.
DAGScheduler.runJob`; a park with no such frame (an idle pool worker) is
placed at its innermost two frames past the lock primitives. JFR records a
park only when it lasts longer than the event's threshold (10 ms with
`settings=profile`, 20 ms by default); shorter parks are missing from the
totals.

`--processes`: `jdk.ProcessStart`. Prints how many processes the JVM started,
per program (the command's first word), an example command line of each,
and the frames that started them (inclusive counts).

Threads are grouped by name with every digit run replaced by `#`, so Spark's
"Executor task launch worker for task 3.0 in stage 7.0 (TID 12)" threads
pool into one group. `--thread` keeps groups whose name starts with PREFIX.
`--from-ms`/`--to-ms` keep samples taken that many milliseconds after the
recording started (jdk.ActiveRecording's `recordingStart`, or the first
event when the recording has no such event). `--grep` also prints, per
group, how many samples (or how much parked time) have a frame whose name
contains TEXT.

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


def parse_duration(s):
    """ISO-8601 duration ("PT1M2.5S"), or plain seconds → milliseconds."""
    if isinstance(s, (int, float)):
        return s * 1000.0
    m = re.match(r'PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$', s)
    h, mi, sec = (float(g) if g else 0.0 for g in m.groups())
    return ((h * 60 + mi) * 60 + sec) * 1000.0


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


def thread_group(thread):
    """A thread's name with every digit run replaced by `#`."""
    thread = thread or {}
    return re.sub(r'\d+', '#', thread.get('javaName') or thread.get('osName') or '?')


def stack_frames(values):
    """The stack's frames, innermost first."""
    return [frame_name(f) for f in ((values.get('stackTrace') or {}).get('frames') or [])]


LIBRARY = ('java.', 'jdk.', 'sun.', 'scala.')


LOCKS = ('jdk.internal.misc.Unsafe.', 'java.util.concurrent.locks.')


def waiting_site(frames):
    """The innermost two frames outside the JDK, the Scala library and
    lambdas; else the innermost two past the lock primitives."""
    own = [f for f in frames if not f.startswith(LIBRARY) and '$$Lambda' not in f]
    if not own:
        own = [f for f in frames if not f.startswith(LOCKS)]
    return ' < '.join(own[:2]) or '?'


def main():
    p = argparse.ArgumentParser()
    p.add_argument('recording')
    mode = p.add_mutually_exclusive_group()
    mode.add_argument('--park', action='store_true',
                      help='parked time (jdk.ThreadPark) instead of on-CPU samples')
    mode.add_argument('--processes', action='store_true',
                      help='processes started (jdk.ProcessStart) instead of on-CPU samples')
    p.add_argument('--from-ms', type=float, default=None)
    p.add_argument('--to-ms', type=float, default=None)
    p.add_argument('--thread', default='')
    p.add_argument('--top', type=int, default=20)
    p.add_argument('--grep', default=None)
    a = p.parse_args()

    event, thread_field = ('jdk.ThreadPark', 'eventThread') if a.park else (
        ('jdk.ProcessStart', 'eventThread') if a.processes else
        ('jdk.ExecutionSample', 'sampledThread'))
    t0 = recording_start(a.recording)
    # per thread group (per program with --processes): events, their weight
    # (1, or parked ms), weight per inclusive frame, weight under --grep
    counts = collections.Counter()
    weight = collections.Counter()
    frames = collections.defaultdict(collections.Counter)
    grepped = collections.Counter()
    example = {}
    for e in events(a.recording, event, STACK_DEPTH):
        v = e['values']
        t = parse_time(v['startTime'])
        if t0 is None:
            t0 = t
        ms = t - t0
        if (a.from_ms is not None and ms < a.from_ms) or (a.to_ms is not None and ms >= a.to_ms):
            continue
        name = thread_group(v.get(thread_field))
        if not name.startswith(a.thread):
            continue
        ordered = stack_frames(v)
        stack = set(ordered)
        w = parse_duration(v['duration']) if a.park else 1
        if a.processes:
            command = v.get('command') or '?'
            name = command.split()[0].rsplit('/', 1)[-1] if command.split() else '?'
            example.setdefault(name, command)
        counts[name] += 1
        weight[name] += w
        if a.park:
            frames[name][waiting_site(ordered)] += w
        else:
            for f in stack:
                frames[name][f] += w
        if a.grep is not None and any(a.grep in f for f in stack):
            grepped[name] += w

    window = f'{a.from_ms if a.from_ms is not None else 0:.0f} ms to ' + (
        f'{a.to_ms:.0f} ms' if a.to_ms is not None else 'the end')
    unit = 'processes' if a.processes else 'samples'
    if a.park:
        print(f'{sum(counts.values())} parks, {sum(weight.values()):.0f} ms, {window} after the recording started')
    else:
        print(f'{sum(counts.values())} {unit}, {window} after the recording started')
    for name, w in weight.most_common():
        head = (f'{w:.0f} ms parked in {counts[name]} parks' if a.park else f'{w} {unit}')
        print(f'\n{name}: {head}' + (
            f', {grepped[name]:.0f} with a frame containing {a.grep!r}' if a.grep is not None else ''))
        if a.processes:
            print(f'  e.g. {example[name]}')
        for f, c in frames[name].most_common(a.top):
            print(f'  {c:9.0f} {100.0 * c / w:5.1f}%  {f}')


if __name__ == '__main__':
    main()
