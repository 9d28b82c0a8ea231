#!/usr/bin/env python3
"""Count the child processes a command starts, by command name.

Runs COMMAND with PATH shims for chmod, readlink, stat, ls, chown and
bash placed first on PATH. Each shim logs one line to a file under a
temporary directory and then execs the real program, so the command
behaves as it would without the shims. Hadoop's local file system, run
without its native library, starts these programs by name (chmod per
created file, readlink per link-status call, ls/stat for permissions),
and so does any bash launcher script; a program that starts them by an
absolute path, or a JVM-internal call, is not counted.

  python3 tools/count_forks.py [--keep] -- COMMAND [ARG...]

Prints one line per shimmed command with its count, then the total,
then a JSON line {"forks": {name: count}, "total": n, "exit": code}.
Exits with COMMAND's exit code. --keep leaves the log directory (its
path is printed) with one line per call: the command and its arguments.
Needs no network.
"""
import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile

SHIMMED = ("chmod", "readlink", "stat", "ls", "chown", "bash")

SHIM = """#!/bin/sh
printf '%s\\t%s\\n' {name} "$*" >> {log}
exec {real} "$@"
"""


def quote(s):
    return "'" + s.replace("'", "'\\''") + "'"


def install_shims(shim_dir, log):
    """Write one shim per command found on PATH; returns their names."""
    found = []
    for name in SHIMMED:
        real = shutil.which(name)
        if real is None:
            continue
        path = os.path.join(shim_dir, name)
        with open(path, "w") as f:
            f.write(SHIM.format(name=name, log=quote(log), real=quote(real)))
        os.chmod(path, stat.S_IRWXU | stat.S_IRGRP | stat.S_IXGRP | stat.S_IROTH | stat.S_IXOTH)
        found.append(name)
    return found


def count(log):
    counts = {}
    if os.path.exists(log):
        with open(log, errors="replace") as f:
            for line in f:
                name = line.split("\t", 1)[0].strip()
                if name:
                    counts[name] = counts.get(name, 0) + 1
    return counts


def main(argv):
    keep = False
    if argv and argv[0] == "--keep":
        keep, argv = True, argv[1:]
    if argv and argv[0] == "--":
        argv = argv[1:]
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    work = tempfile.mkdtemp(prefix="count_forks_")
    shim_dir = os.path.join(work, "bin")
    os.mkdir(shim_dir)
    log = os.path.join(work, "calls.log")
    shimmed = install_shims(shim_dir, log)
    env = dict(os.environ)
    env["PATH"] = shim_dir + os.pathsep + env.get("PATH", "")
    try:
        code = subprocess.call(argv, env=env)
        counts = count(log)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    for name in shimmed:
        print(f"{name:10s} {counts.get(name, 0)}")
    total = sum(counts.values())
    print(f"{'total':10s} {total}")
    if keep:
        print(f"log: {log}")
    print(json.dumps({"forks": {n: counts.get(n, 0) for n in shimmed}, "total": total, "exit": code}))
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
