"""Per-process scratch directories under `<repo>/.scratch` (ADVICE r9).

`tempfile.mkdtemp` under /tmp leaked one directory per bench/gate
process per sf_dir (the IVF/IVF-PQ layout caches in queries/dedup_q.py,
the streaming checkpoint dirs in queries/streaming_q.py, and the
round-9 ANN scale probe, SCALE.md; removed, in git history at 555b90b)
— repeated invocations accumulated orphaned
parquet trees nothing ever removed.  This helper replaces those with a
fixed, gitignored per-repo location:

    .scratch/<pid>-<starttime>/<name>

* **pid-starttime subdir** — concurrent processes (a gate run next to
  a bench run) can never overwrite each other's layouts mid-read, and
  a RECYCLED pid can never inherit a SIGKILLed run's stale tree
  (ADVICE r10): the kernel's per-process start time (`/proc/self/stat`
  field 22, clock ticks since boot) disambiguates two processes that
  ever shared a pid.
* **atexit rmtree** of the subdir — a clean exit leaves nothing
  behind, so repeated invocations cannot accumulate.
* **fixed base under the repo** — a SIGKILLed process's leftovers land
  in one known place that `tools/verify_round.sh` sweeps (dead pids
  only) at the start of every round, instead of scattering across /tmp.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_BASE = os.path.join(_REPO, ".scratch")


def _start_token() -> str:
    """Kernel start time of this process (ticks since boot) — stable for
    the process's lifetime, distinct for any two processes that ever
    recycled the same pid.  Falls back to '0' off-Linux (the pid alone
    then keys the dir, as before)."""
    try:
        with open("/proc/self/stat", "rb") as f:
            # comm (field 2) may contain spaces/parens; everything after
            # the LAST ')' is space-separated, starttime is field 22
            # overall = index 19 of the post-comm fields.
            rest = f.read().rsplit(b")", 1)[1].split()
            return rest[19].decode()
    except Exception:
        return "0"


_PID_BASE = os.path.join(SCRATCH_BASE, f"{os.getpid()}-{_start_token()}")
_registered = False


def scratch_path(name: str) -> str:
    """Create (if needed) and return `.scratch/<pid>/<name>`.

    `name` is sanitized to a single path component; callers that key a
    per-process cache by sf_dir should fold the key into the name
    (e.g. ``scratch_path(f"ivf_layout_{key}")``).  The whole pid subtree
    is removed at interpreter exit.
    """
    global _registered
    if not _registered:
        atexit.register(shutil.rmtree, _PID_BASE, ignore_errors=True)
        _registered = True
    safe = re.sub(r"[^A-Za-z0-9._-]+", "_", name).strip("_") or "scratch"
    path = os.path.join(_PID_BASE, safe)
    os.makedirs(path, exist_ok=True)
    return path
