#!/usr/bin/env python3
"""Record which queries of a graft.Verify run wrote reliable checkpoints.

With `-Dspark.graft.checkpoint.dir=<dir>`, every CheckpointPolicy.pin
writes an `rdd-<id>` dir under `<dir>/<context uuid>/`, which the
ContextCleaner may delete again as soon as the pinned frame is
unreachable. This watcher uses Linux inotify, so every dir creation is
seen however short-lived. Each `rdd-*` creation is charged to the query
named by the last `[verify] start` line of Verify's stderr log.

Usage (start before Verify, on an empty or fresh <dir>):
  python3 scripts/watch_checkpoints.py <dir> <verify.err> <out.json> &
  scripts/run_class.sh -Dspark.graft.checkpoint.dir=<dir> graft.Verify \
      <sfDir> <outDir> 2> <verify.err>

Stops once <verify.err> ends with an `exit <code>` line written after the
watcher started (append it after Verify returns) and writes
{query: [rdd dirs]} plus totals to <out.json>. What the log held at start,
an earlier run's `exit` line included, is ignored, unless Verify's `2>`
has since truncated the log.
"""
import ctypes
import json
import os
import select
import struct
import sys
import time

IN_CREATE, IN_ISDIR = 0x100, 0x40000000
libc = ctypes.CDLL(None, use_errno=True)


def log_size(err_path):
    try:
        return os.path.getsize(err_path)
    except FileNotFoundError:
        return 0


class Log:
    """The part of <verify.err> written since the watcher started."""

    def __init__(self, path):
        self.path, self.start = path, log_size(path)

    def current_query(self):
        try:
            with open(self.path, "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return None, False
        if len(data) < self.start:
            self.start = 0  # truncated by a new run: all of it is new
        # a line counts when it ends past the recorded size
        keep = data.rfind(b"\n", 0, self.start) + 1 if self.start else 0
        lines = data[keep:].decode(errors="replace").splitlines()
        starts = [l.split()[-1] for l in lines if l.startswith("[verify] start ")]
        finished = bool(lines) and lines[-1].startswith("exit ") and len(data) > self.start
        return (starts[-1] if starts else None), finished


def main(ckpt_dir, err_path, out_json):
    log = Log(err_path)
    os.makedirs(ckpt_dir, exist_ok=True)
    fd = libc.inotify_init()
    wds = {libc.inotify_add_watch(fd, ckpt_dir.encode(), IN_CREATE): ckpt_dir}
    by_query, roots = {}, []
    while True:
        ready, _, _ = select.select([fd], [], [], 1.0)
        query, finished = log.current_query()
        if not ready:
            if finished:
                break
            continue
        buf = os.read(fd, 1 << 16)
        off = 0
        while off < len(buf):
            wd, mask, _, n = struct.unpack_from("iIII", buf, off)
            name = buf[off + 16:off + 16 + n].rstrip(b"\0").decode()
            off += 16 + n
            if not mask & IN_ISDIR:
                continue
            parent = wds.get(wd)
            if parent == ckpt_dir:
                # the context's checkpoint root: watch it for rdd-* dirs
                root = os.path.join(ckpt_dir, name)
                roots.append(root)
                wds[libc.inotify_add_watch(fd, root.encode(), IN_CREATE)] = root
                # rdd dirs made before the watch was in place
                early = [e for e in os.listdir(root) if e.startswith("rdd-")]
                if early:
                    by_query.setdefault(query or "<before first query>", []).extend(early)
            elif name.startswith("rdd-"):
                by_query.setdefault(query or "<before first query>", []).append(name)
    out = {"checkpoint_dir": ckpt_dir, "context_roots": roots,
           "rdd_dirs_created": sum(map(len, by_query.values())),
           "queries_with_reliable_pins": len(by_query),
           "by_query": dict(sorted(by_query.items()))}
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(f"{out['rdd_dirs_created']} rdd dirs over "
          f"{out['queries_with_reliable_pins']} queries")


if __name__ == "__main__":
    main(*sys.argv[1:4])
