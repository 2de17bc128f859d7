"""The benchmark's own tests. Run from the repo root:

    python3 -m pytest benchmark/ -q

Each Spark case starts a fresh benchmark process at the tiny size
(2-file corpus, sf0.001), so they take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import Canary, covered_s, descendants  # noqa: E402
from run import MIN_PASSES, _tail  # noqa: E402

# A cold pass, at least one warm-up pass, then the measured ones.
MIN_ATTEMPTED = 2 + MIN_PASSES

# Runs the benchmark with one expected output made wrong after set-up.
_TAMPER = """
import sys
sys.path[:0] = [{repo!r}, {here!r}]
import run, workloads

def tamper(wl):
    if isinstance(wl, workloads.MrCorpus):
        word, count = wl.expected["wc"][0].rsplit(" ", 1)
        wl.expected["wc"][0] = f"{{word}} {{int(count) + 1}}"
    else:
        q = "tpch_q1_pricing_summary"
        wl.oracle[q] = wl.oracle[q].iloc[:-1]

for cls in workloads.WORKLOADS.values():
    orig = cls.make_inputs
    def make_inputs(self, d, orig=orig):
        mb = orig(self, d)
        tamper(self)
        return mb
    cls.make_inputs = make_inputs
sys.exit(run.main(sys.argv[1:]))
"""

# Runs the benchmark with the exec call of the first traced pass raising.
_RAISE = """
import sys
sys.path[:0] = [{repo!r}, {here!r}]
import run, workloads

orig = workloads.Tracer.span
raised = []

def span(rec, name, fn):
    if name == "exec" and not raised:
        raised.append(name)
        raise RuntimeError("injected failure")
    return orig(rec, name, fn)

workloads.Tracer.span = staticmethod(span)
sys.exit(run.main(sys.argv[1:]))
"""


def _marked(mark: bytes) -> list[str]:
    """Command lines of the live processes whose environment holds ``mark``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                out.append(f.read().replace(b"\0", b" ").decode())
        except OSError:  # ended meanwhile
            continue
    return out


def _run(workload: str, *prefix: str, trace: int = 0) -> dict:
    """Run the benchmark and return its result line. Every process the
    run starts inherits a marker in its environment; none may be alive
    once the run has exited. Output goes to files, not pipes, so that
    waiting for the run does not also wait for processes holding a pipe."""
    cmd = [*prefix, "--workload", workload, "--seed", "3", "--seconds", "2",
           "--trace", str(trace), "--size", "tiny"]
    token = uuid.uuid4().hex
    env = dict(os.environ, BENCH_TEST_RUN=token)
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=out, stderr=err, text=True, env=env)
        try:
            proc.wait(timeout=300)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        left = _marked(f"BENCH_TEST_RUN={token}".encode())
        out.seek(0)
        err.seek(0)
        assert proc.returncode == 0, err.read()[-3000:]
        assert not left, f"processes left running: {left}"
        return json.loads(out.read().strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["mr_corpus", "df_queries"])
def test_tiny_run_prints_every_end_to_end_metric_and_passes_checks(workload):
    res = _run(workload, sys.executable, os.path.join(HERE, "run.py"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= MIN_ATTEMPTED
    assert res["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", ["mr_corpus", "df_queries"])
def test_tampered_expected_output_drives_ok_frac_below_one(workload):
    code = _TAMPER.format(repo=REPO, here=HERE)
    res = _run(workload, sys.executable, "-c", code)
    assert not res["correct"]
    assert res["failed"] > 0
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def test_tail_needs_ten_samples_beyond_it():
    assert _tail(list(range(19))) is None
    p, v = _tail([float(x) for x in range(1, 101)])
    assert (p, v) == (90, 90.0)
    assert sum(x > v for x in range(1, 101)) == 10


def test_canary_leaves_no_process_behind():
    before = descendants(os.getpid())
    canary = Canary(2)
    assert canary.time() > 0
    canary.close()
    assert descendants(os.getpid()) - before == set()


def test_covered_s_merges_overlapping_stages_and_clips_to_window():
    stages = [{"start_ms": 0, "end_ms": 400}, {"start_ms": 300, "end_ms": 600},
              {"start_ms": 900, "end_ms": 1500}]
    assert covered_s(stages, 100, 1200) == pytest.approx(0.8)


@pytest.mark.parametrize("workload", ["mr_corpus", "df_queries"])
def test_traced_pass_that_raises_is_counted_and_the_run_goes_on(workload):
    code = _RAISE.format(repo=REPO, here=HERE)
    res = _run(workload, sys.executable, "-c", code, trace=1)
    assert not res["correct"]
    assert res["failed"] == 1 and res["attempted"] >= MIN_ATTEMPTED
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
