"""Executor-loss + driver-loss resume evidence (VERDICT r4 item 5).

Composes the two fault-tolerance layers the engine ships and proves them
END TO END against real process kills, in the north rule's literal launch
mode (spark-submit, multi-executor local-cluster):

  A. EXECUTOR KILL: launch jobs/run_pipeline.py on local-cluster[3,2,2048]
     (3 executor JVMs), SIGKILL one executor process after the first unit
     commits, and require: the job COMPLETES with all units done, every
     unit committed exactly once (Spark's task retry + the reliable-
     checkpoint lineage absorb the loss; committed snapshots are never
     rebuilt), and the driver log actually records the executor loss (the
     kill landed — not a no-op pass).

  B. DRIVER KILL + RESUME: fresh table, same job; SIGKILL the entire
     spark-submit process after >= 2 units commit; re-run with the same
     --run-id and require: the rerun reports < total pending (committed
     units skipped), finishes the rest, the union of per-unit commit lines
     across both runs covers each unit EXACTLY once (zero recompute), and
     final output_rows equals the uninterrupted control run's.

Prints one JSON line with the evidence; exits nonzero on any violation.
Run alone (no concurrent Spark).  Usage: python tools/kill_resume_test.py
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/tmp/kill_resume_test"
N_SYNTH = 4_000_000
SPLITS = 6
MASTER = "local-cluster[3,2,2048]"


def _build_zip() -> str:
    zp = os.path.join(WORK, "engine.zip")
    with zipfile.ZipFile(zp, "w") as z:
        eng = os.path.join(ROOT, "engine")
        for dirpath, _dirs, files in os.walk(eng):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return zp


def _launch(zp: str, out_dir: str, run_id: str, log_path: str):
    cmd = [
        "spark-submit", "--master", MASTER, "--py-files", zp,
        os.path.join(ROOT, "jobs", "run_pipeline.py"),
        "--out", out_dir, "--n-synth", str(N_SYNTH),
        "--cell-splits", str(SPLITS), "--run-id", run_id,
    ]
    logf = open(log_path, "ab")
    # the driver's temp dirs (its spark_graft_ckpt_* checkpoint dir, cover
    # parquet) live in WORK: atexit cleanup does not run on SIGKILL
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return subprocess.Popen(
        cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT,
        start_new_session=True, env={**os.environ, "TMPDIR": tmp},
    )


def _units_committed(log_path: str) -> list[str]:
    if not os.path.exists(log_path):
        return []
    txt = open(log_path, "rb").read().decode("utf-8", "replace")
    return re.findall(r"unit (ix:\d+-\d+) -> snapshot", txt)


def _wait_units(log_path: str, n: int, proc, timeout: float = 600.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if len(_units_committed(log_path)) >= n:
            return
        if proc.poll() is not None:
            raise RuntimeError(f"job exited early (rc={proc.returncode})")
        time.sleep(1.0)
    raise RuntimeError(f"timeout waiting for {n} committed units")


def _final_json(log_path: str) -> dict:
    for line in reversed(open(log_path, "rb").read().decode("utf-8", "replace").splitlines()):
        if line.startswith("{") and "run_id" in line:
            return json.loads(line)
    raise RuntimeError(f"no result JSON in {log_path}")


def _executor_pids(exclude_pid: int) -> list[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True,
    ).stdout.split()
    return [int(p) for p in out if int(p) != exclude_pid]


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    zp = _build_zip()
    evidence: dict = {"part": "kill_resume", "n_synth": N_SYNTH,
                      "cell_splits": SPLITS, "master": MASTER}

    # control run (uninterrupted) — the reference row count
    log_c = os.path.join(WORK, "control.log")
    t0 = time.time()
    p = _launch(zp, os.path.join(WORK, "t_control"), "control", log_c)
    rc = p.wait(timeout=900)
    assert rc == 0, f"control run failed rc={rc}"
    ctrl = _final_json(log_c)
    assert ctrl["units_done"] == SPLITS, ctrl
    evidence["control"] = {"output_rows": ctrl["output_rows"],
                           "wall_s": round(time.time() - t0, 1)}

    # A: executor kill mid-run
    log_a = os.path.join(WORK, "execkill.log")
    t0 = time.time()
    p = _launch(zp, os.path.join(WORK, "t_execkill"), "execkill", log_a)
    _wait_units(log_a, 1, p)
    pids = _executor_pids(p.pid)
    assert pids, "no executor JVMs found to kill"
    victim = pids[0]
    os.kill(victim, signal.SIGKILL)
    rc = p.wait(timeout=900)
    log_txt = open(log_a, "rb").read().decode("utf-8", "replace")
    lost = bool(re.search(r"Lost executor|ExecutorLostFailure|Executor .* lost|"
                          r"Remote RPC client disassociated", log_txt))
    res_a = _final_json(log_a)
    units_a = _units_committed(log_a)
    assert rc == 0, f"exec-kill run failed rc={rc}"
    assert lost, "driver log shows no executor loss — the kill was a no-op"
    assert res_a["units_done"] == SPLITS, res_a
    assert sorted(set(units_a)) == sorted(units_a) and len(units_a) == SPLITS, \
        f"units not committed exactly once: {units_a}"
    assert res_a["output_rows"] == ctrl["output_rows"], (res_a, ctrl)
    evidence["executor_kill"] = {
        "killed_pid": victim, "executor_loss_logged": lost,
        "units_done": res_a["units_done"],
        "units_committed_once_each": True,
        "output_rows_match_control": True,
        "wall_s": round(time.time() - t0, 1),
    }

    # B: driver kill after >= 2 units, then resume with the same run-id
    log_b = os.path.join(WORK, "driverkill.log")
    out_b = os.path.join(WORK, "t_driverkill")
    p = _launch(zp, out_b, "driverkill", log_b)
    _wait_units(log_b, 2, p)
    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    p.wait(timeout=60)
    units_first = _units_committed(log_b)
    assert 2 <= len(units_first) < SPLITS, units_first
    log_b2 = os.path.join(WORK, "driverkill_resume.log")
    t0 = time.time()
    p = _launch(zp, out_b, "driverkill", log_b2)
    rc = p.wait(timeout=900)
    assert rc == 0, f"resume run failed rc={rc}"
    txt2 = open(log_b2, "rb").read().decode("utf-8", "replace")
    m = re.search(r"units: (\d+) total, (\d+) pending", txt2)
    assert m and int(m.group(2)) <= SPLITS - 2, f"resume did not skip: {m}"
    units_second = _units_committed(log_b2)
    both = units_first + units_second
    assert len(both) == SPLITS and len(set(both)) == SPLITS, \
        f"recompute detected: {units_first} + {units_second}"
    res_b = _final_json(log_b2)
    assert res_b["units_done"] == SPLITS, res_b
    assert res_b["output_rows"] == ctrl["output_rows"], (res_b, ctrl)
    evidence["driver_kill_resume"] = {
        "units_before_kill": len(units_first),
        "pending_on_resume": int(m.group(2)),
        "units_recomputed": 0,
        "output_rows_match_control": True,
        "resume_wall_s": round(time.time() - t0, 1),
    }
    print(json.dumps(evidence))


if __name__ == "__main__":
    main()
