#!/usr/bin/env python3
"""CPU seconds per JVM thread group, for set-up and for the timed region.

Runs a command, finds the JVM it starts (the first descendant `java`
process whose command line contains --jvm-match, default
`perfbench.Main`), and polls /proc/<pid>/task/*/stat until that JVM
exits. The command's stderr is passed through; the line that holds
--split (default: perfbench's `[perfbench] set-up` line, printed after
the set-ups and the warm pass) splits the run into "set-up" (JVM start
to that line) and "timed" (that line to JVM exit). Example, from the
repository root:

    python3 tools/thread_cpu.py -- python3 perfbench/run.py \\
        --workload forecast_fit --seed 1 --seconds 6 --trace 0

Threads are grouped by name (the kernel keeps 15 characters of a Java
thread's name): C1/C2 compiler threads, GC threads, Spark executor task
threads, the main thread (named `java`), and the rest with their
numeric suffixes stripped. CPU of a thread that exits between two polls
is reported as "(exited threads)": the process total counts it, the
per-thread reads do not. Only this command's own processes are read;
the harness is not changed.
"""
import argparse
import os
import re
import subprocess
import sys
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")

GROUPS = [
    (re.compile(r"^C2 Compiler"), "C2 compiler"),
    (re.compile(r"^C1 Compiler"), "C1 compiler"),
    (re.compile(r"^(GC Thread|G1 )"), "GC"),
    (re.compile(r"^Executor task"), "executor tasks"),
    (re.compile(r"^java$"), "main"),
]


def group(name):
    for pat, g in GROUPS:
        if pat.search(name):
            return g
    return re.sub(r"[-#\s\d]+$", "", name) or name


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def cpu_of_stat(text):
    # fields after the parenthesised comm: state is field 3, utime 14, stime 15
    rest = text.rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / TICK


def children():
    """pid -> parent pid, for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = read(f"/proc/{d}/stat")
            if s:
                out[int(d)] = int(s.rsplit(")", 1)[1].split()[1])
    return out


def find_jvm(root, match):
    parents = children()
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    for pid in sorted(tree - {root}):
        cmd = (read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")
        comm = (read(f"/proc/{pid}/comm") or "").strip()
        if comm == "java" and match in cmd:
            return pid
    return None


class Poller:
    def __init__(self, pid):
        self.pid = pid
        self.threads = {}  # tid -> (name, cpu_s)
        self.process = 0.0
        self.lock = threading.Lock()

    def poll(self):
        base = f"/proc/{self.pid}"
        total = read(f"{base}/stat")
        if total is None:
            return False
        seen = {}
        try:
            tids = os.listdir(f"{base}/task")
        except OSError:
            return False
        for tid in tids:
            s = read(f"{base}/task/{tid}/stat")
            name = read(f"{base}/task/{tid}/comm")
            if s and name is not None:
                seen[int(tid)] = (name.strip(), cpu_of_stat(s))
        with self.lock:
            self.threads.update(seen)
            self.process = cpu_of_stat(total)
        return True

    def snapshot(self):
        with self.lock:
            return dict(self.threads), self.process


def by_group(threads, since=None):
    out = {}
    for tid, (name, cpu) in threads.items():
        cpu -= (since or {}).get(tid, (name, 0.0))[1]
        g = group(name)
        out[g] = out.get(g, 0.0) + cpu
    return out


def report(title, groups, process):
    tracked = sum(groups.values())
    groups = dict(groups)
    groups["(exited threads)"] = max(0.0, process - tracked)
    print(f"{title}: {process:.2f} CPU-s in the JVM")
    for g, cpu in sorted(groups.items(), key=lambda kv: -kv[1]):
        if cpu >= 0.005:
            share = cpu / process if process > 0 else 0.0
            print(f"  {g:<28} {cpu:8.2f} s  {share:6.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jvm-match", default="perfbench.Main",
                    help="substring of the JVM's command line")
    ap.add_argument("--split", default="[perfbench] set-up",
                    help="stderr line that ends set-up")
    ap.add_argument("--interval", type=float, default=0.1, help="poll period, s")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd and a.cmd[0] == "--" else a.cmd
    if not cmd:
        ap.error("no command")

    proc = subprocess.Popen(cmd, stderr=subprocess.PIPE, text=True, bufsize=1)
    state = {"poller": None, "split": None, "done": False}

    def watch():
        while not state["done"]:
            p = state["poller"]
            if p is None:
                pid = find_jvm(proc.pid, a.jvm_match)
                if pid is not None:
                    state["poller"] = p = Poller(pid)
            if p is not None and not p.poll() and state["split"] is not None:
                return
            time.sleep(a.interval)

    t = threading.Thread(target=watch, daemon=True)
    t.start()
    for line in proc.stderr:
        sys.stderr.write(line)
        if state["split"] is None and a.split in line and state["poller"] is not None:
            state["poller"].poll()
            state["split"] = state["poller"].snapshot()
    rc = proc.wait()
    state["done"] = True
    t.join()

    p = state["poller"]
    if p is None:
        print(f"thread_cpu: no JVM matching {a.jvm_match!r} was seen", file=sys.stderr)
        return rc or 1
    end, end_total = p.snapshot()
    if state["split"] is None:
        print(f"thread_cpu: no {a.split!r} line; whole run only", file=sys.stderr)
        report("whole run", by_group(end), end_total)
        return rc
    mid, mid_total = state["split"]
    report("set-up", by_group(mid), mid_total)
    report("timed", by_group(end, since=mid), end_total - mid_total)
    return rc


if __name__ == "__main__":
    sys.exit(main())
