"""Self-check of the benchmark at minimal size.

    python3 perfbench/selfcheck.py

Runs every workload (those in ``BENCHMARK.json`` plus the unlisted
``real_scanned`` and ``resume_commit``)
on an 8-document sample of a 24-document pool, once untraced and once
traced, and asserts that

* the last stdout line has exactly the keys ``correct``, ``attempted``,
  ``failed`` and ``metrics``;
* the untraced run prints every ``end_to_end`` metric of
  ``BENCHMARK.json`` and the traced run every ``per_layer`` metric, each
  with its declared unit, and nothing else;
* the output check ran over every document of the sample;
* no process the run started is left once it has exited: none working
  in the checkout and no unreaped zombie.

It also runs the command in a directory holding only ``BENCHMARK.json``
and the benchmark's files, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = ["--docs", "8", "--pool-docs", "24", "--seconds", "1", "--seed", "3"]


def _pids() -> set[int]:
    return {int(d) for d in os.listdir("/proc") if d.isdigit()}


def _leftovers(before: set[int], cwd: str) -> list[str]:
    """Processes that appeared during a run and outlived it: anything
    still working in ``cwd``, and zombies nobody has reaped."""
    out = []
    for pid in sorted(_pids() - before - {os.getpid()}):
        try:
            with open(f"/proc/{pid}/stat") as f:
                name, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        try:
            where = os.readlink(f"/proc/{pid}/cwd")
        except OSError:
            where = ""
        if rest.split()[0] == "Z" or where == cwd or \
                where.startswith(cwd + os.sep):
            out.append(f"{name})")
    return out


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str], str]:
    with open(os.path.join(cwd, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    before = _pids()
    p = subprocess.run(
        command + ["--workload", workload, "--trace", str(trace)] + SMALL,
        cwd=cwd, capture_output=True, text=True, timeout=600)
    left = _leftovers(before, os.path.realpath(cwd))
    if left:
        raise AssertionError(f"{workload} --trace {trace} in {cwd}: "
                             f"processes left running: {left}")
    return p.returncode, p.stdout.strip().splitlines(), p.stderr[-2000:]


def check_workload(spec: dict, workload: str, trace: int) -> None:
    code, lines, err = _run(ROOT, workload, trace)
    label = f"{workload} --trace {trace}"
    if code != 0 or not lines:
        raise AssertionError(f"{label}: exit {code}\n{err}")
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: keys {sorted(result)}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(
            f"{label}: missing {sorted(set(want) - set(got))}, "
            f"undeclared {sorted(set(got) - set(want))}, units differ on "
            f"{sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{label}: {k} is not a number")
    if result["attempted"] != context["docs"]:
        raise AssertionError(f"{label}: checked {result['attempted']} of "
                             f"{context['docs']} documents")
    if result["failed"] != round(context["failed_doc_frac"] * context["docs"]):
        raise AssertionError(f"{label}: failed disagrees with failed_doc_frac")
    print(f"ok  {label}: {len(got)} metrics, correct={result['correct']}, "
          f"{result['failed']}/{result['attempted']} docs failed")


def check_bare_directory(spec: dict) -> None:
    """Without the program beside it the benchmark must fail, silently."""
    bare = os.path.join(HERE, ".cache", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    try:
        code, lines, _err = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith('{"correct"') for line in lines):
        raise AssertionError(f"bare directory: exit {code}, stdout {lines}")
    print(f"ok  bare directory: exit {code}, no result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory(spec)
    names = [w["name"] for w in spec["workloads"]]
    names += [n for n in ("real_scanned", "resume_commit") if n not in names]
    for name in names:
        for trace in (0, 1):
            check_workload(spec, name, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
