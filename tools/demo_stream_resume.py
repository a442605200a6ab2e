"""Structured-Streaming crash/resume demo (T7 evidence, cross-process).

`tests/test_streaming.py` pins checkpoint recovery with graceful in-process
stop/restart; this demo covers the harder path: a real `spark-submit`
streaming job SIGKILLed mid-stream (no shutdown hooks, a possibly
half-written epoch on disk), then resumed from the same checkpoint by
re-running the identical command. The sink is the repo's exactly-once
posture — foreachBatch writing idempotently by epoch id
(`streaming.foreach_batch_to_parquet`'s shape): a replayed epoch
OVERWRITES its own directory, so the crash can only cause a replay,
never a duplicate.

    python tools/demo_stream_resume.py              # orchestrator
    python tools/demo_stream_resume.py --run <src> <out>   # the job

Verification: the union of epoch outputs after resume equals the exact
source event_id set — no loss, no duplicates — despite the kill.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_FILES = 8
ROWS_PER_FILE = 5000
BASE = "/tmp/caraspark_stream_resume_demo"
MASTER = "local[8]"


def job(src: str, out: str) -> None:
    """The streaming job run under spark-submit: file-source micro-batches
    (one source file per trigger) through the PRODUCTION sink helper —
    `streaming.foreach_batch_to_parquet` (idempotent epoch-dir writes +
    durable checkpoint + drain-and-exit), so the demo exercises the exact
    code path it makes claims about."""
    from caraspark.session import get_spark
    from caraspark.streaming import foreach_batch_to_parquet

    spark = get_spark("stream-resume-demo", master=MASTER)
    stream = (
        spark.readStream.schema("event_id long, payload string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    foreach_batch_to_parquet(stream, out)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--run":
        job(sys.argv[2], sys.argv[3])
        return

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(BASE, ignore_errors=True)
    src, out = os.path.join(BASE, "src"), os.path.join(BASE, "out")
    os.makedirs(src)
    for f in range(N_FILES):
        ids = list(range(f * ROWS_PER_FILE, (f + 1) * ROWS_PER_FILE))
        pq.write_table(
            pa.table(
                {"event_id": pa.array(ids, pa.int64()),
                 "payload": [f"ev-{i}" for i in ids]}
            ),
            os.path.join(src, f"part-{f}.parquet"),
        )

    from build_pyfiles import build

    pyfiles = os.path.join(ROOT, "caraspark.zip")
    build(pyfiles)  # ship the current code, not a stale zip
    cmd = [
        "spark-submit", "--master", MASTER,
        "--py-files", pyfiles,
        os.path.abspath(__file__), "--run", src, out,
    ]

    # run 1: SIGKILL the whole process group once >=2 epochs are on disk
    p = subprocess.Popen(
        cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    killed_at = None
    for _ in range(600):
        if len(glob.glob(os.path.join(out, "epoch=*"))) >= 2:
            os.killpg(p.pid, signal.SIGKILL)
            killed_at = sorted(
                os.path.basename(d)
                for d in glob.glob(os.path.join(out, "epoch=*"))
            )
            break
        time.sleep(0.2)
    assert killed_at is not None, "no epochs appeared within the poll window"
    try:
        rc = p.wait(timeout=120)
    except subprocess.TimeoutExpired:
        raise SystemExit("killed job did not exit — SIGKILL did not land")
    # the crash must be real: the job must have DIED from our SIGKILL with
    # epochs still outstanding, not finished gracefully between two polls
    assert rc == -signal.SIGKILL, f"job exited {rc}, not via SIGKILL"
    assert len(killed_at) < N_FILES, (
        f"all {N_FILES} epochs were already done at the kill — no crash "
        "was actually tested; rerun with more/larger source files"
    )

    # run 2: identical command resumes from the checkpoint
    subprocess.run(cmd, check=True, capture_output=True, timeout=600)

    # verify: exact source set, no duplicates, no loss
    got = []
    for f in glob.glob(os.path.join(out, "epoch=*/*.parquet")):
        got.extend(pq.read_table(f, columns=["event_id"])["event_id"].to_pylist())
    want = list(range(N_FILES * ROWS_PER_FILE))
    dupes = len(got) - len(set(got))
    missing = len(set(want) - set(got))
    print(
        json.dumps(
            {
                "metric": "stream_crash_resume_exactly_once",
                "source_events": len(want),
                "epochs_at_kill": killed_at,
                "epochs_final": len(glob.glob(os.path.join(out, "epoch=*"))),
                "delivered": len(got),
                "duplicates": dupes,
                "missing": missing,
                "pass": sorted(got) == want,
            }
        )
    )
    # non-zero exit on verification failure so a scripted re-run of the
    # demo can't silently record a regression as success
    raise SystemExit(0 if sorted(got) == want else 1)


if __name__ == "__main__":
    main()
