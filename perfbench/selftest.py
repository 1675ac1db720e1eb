"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py

Checks that (1) each workload prints every metric BENCHMARK.json lists for
its trace mode, by name and with its unit, in the report and in the final
JSON line; (2) a deliberately broken output check makes an operation fail
and ``ops_failed_ratio`` positive; (3) the same seed writes the same crawl
world byte for byte and gives the same analytics query order, and another
seed gives others. Exits non-zero on the first failed check. Runs in about
four minutes on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import analytics  # noqa: E402
import worlds  # noqa: E402

# enough urls for plain full waves at the benchmark's batch size; analytics
# always reads the sf0.1 fixture
TOY_CRAWL = {**worlds.CRAWL, "n_images": 60, "n_hosts": 20, "n_urls": 400,
             "n_ingest_new": 60, "n_ingest_repeat": 20}
SIZES = {"crawl": TOY_CRAWL, "analytics": None}
WORK = os.path.join(ROOT, ".perfbench", "selftest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# Each case runs in its own interpreter: module-level pandas UDFs in the
# program bind to the first Spark session of a process.
_CASE = """
import json, sys
sys.path[:0] = {paths!r}
import run
sys.exit(run.main({argv!r}, work={work!r}, sizes=json.loads({sizes!r}),
                  sabotage={sabotage!r}))
"""


def _run(workload: str, trace: int, sabotage: bool = False) -> tuple[int, list[str]]:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    code = _CASE.format(paths=[HERE, ROOT], argv=argv, work=WORK,
                        sizes=json.dumps(SIZES[workload]), sabotage=sabotage)
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    sys.stdout.write(p.stdout)
    if p.returncode:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.splitlines()


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"selftest ok: {what}")


def check_metrics_printed(spec: dict) -> None:
    for workload in ("crawl", "analytics"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = _run(workload, trace)
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            _expect(code == 0 and result["correct"] and result["failed"] == 0,
                    f"{workload} trace={trace} runs clean")
            _expect({k: v["unit"] for k, v in result["metrics"].items()} == want,
                    f"{workload} trace={trace} JSON has every {key} metric with its unit")
            report = [ln.split() for ln in lines[:-1]]
            printed = {r[0]: r[-1] for r in report if len(r) >= 3}
            _expect(all(printed.get(n) == u for n, u in want.items()),
                    f"{workload} trace={trace} report prints every {key} metric with its unit")


def check_broken_check_counts() -> None:
    code, lines = _run("crawl", 0, sabotage=True)
    result = json.loads(lines[-1])
    ratio = [ln.split() for ln in lines if ln.strip().startswith("ops_failed_ratio")]
    _expect(code == 0 and not result["correct"] and result["failed"] >= 1,
            "a broken output check counts as a failed operation")
    _expect(bool(ratio) and float(ratio[0][1]) > 0, "ops_failed_ratio rises above 0")


def _digest(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def check_seeded_inputs() -> None:
    base = os.path.join(WORK, "determinism")
    shutil.rmtree(base, ignore_errors=True)
    a, b, c = (os.path.join(base, f"crawl-{k}") for k in "abc")
    worlds.crawl_world(a, 11, TOY_CRAWL)
    worlds.crawl_world(b, 11, TOY_CRAWL)
    worlds.crawl_world(c, 12, TOY_CRAWL)
    _expect(_digest(a) == _digest(b) and len(_digest(a)) == 4,
            "crawl: the same seed writes the same world byte for byte")
    _expect(_digest(a) != _digest(c), "crawl: another seed writes another world")
    orders = [analytics.prepare(WORK, s)[2] for s in (11, 11, 12)]
    _expect(orders[0] == orders[1] and orders[0] != orders[2],
            "analytics: the seed alone sets the query order")


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    check_seeded_inputs()
    check_broken_check_counts()
    check_metrics_printed(_spec())
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
