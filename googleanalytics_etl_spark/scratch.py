"""The ``.scratch`` root and the one stage protocol.

A stage is a derived copy of a fixture table under ``.scratch/`` (a
format copy for a reader, a file stream's chunks, a prebuilt index).
:func:`stage` keys it on the source file's identity and every build
parameter and publishes it atomically with :func:`stage_atomic`, at
``SCRATCH/<kind>/<sf name>_<fp>``, and removes the superseded siblings
(same kind and sf name, another fingerprint) unused for
``SWEEP_GRACE_S``. The stream stages keep their
``*_stage`` kinds and ``<input dir>_<fp>`` names because perfbench
clears ``.scratch/*_stage/<input dir>_*`` before every pass, so
curation's ``s_winnow_matches`` rebuilds ``winnow_stage`` inside its
timed operation; a renamed stage would change what it measures.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import Callable

SCRATCH = Path(__file__).resolve().parents[1] / ".scratch"

# How long a scratch entry is spared after its last use: a concurrent
# process (a plan audit beside a verifier) may still be reading it.
SWEEP_GRACE_S = 1800


def stage_atomic(target: Path, build: Callable[[Path], None]) -> Path:
    """Content-cached staging with an ATOMIC publish. ``build(tmp)``
    populates a unique temp sibling; the ``_STAGED`` marker is written
    inside it and the whole directory is ``os.rename``d into place in
    one step. Concurrent invocations (parallel pytest workers, bench
    beside tests) may both build, but exactly one rename wins and a
    reader can never observe a half-staged directory — the earlier
    check-then-rmtree-then-mkdir recipe raced (mkdir without exist_ok
    raised FileExistsError; a stream could read a partial stage and
    fire fewer batches; ADVICE.md round 8). The loser's temp dir is
    discarded; a stale UNMARKED target (crashed prior run) is swept
    aside before retrying the rename."""
    done = target / "_STAGED"
    if done.exists():
        return target
    tmp = target.parent / f".tmp-{uuid.uuid4().hex[:12]}-{target.name}"
    tmp.mkdir(parents=True)
    try:
        build(tmp)
        (tmp / "_STAGED").touch()
        for _ in range(2):
            try:
                os.rename(tmp, target)
                return target
            except OSError:
                if done.exists():  # another invocation won — use theirs
                    return target
                # stale half-staged target from a crashed run: sweep it
                # aside (rename, not rmtree — atomic w.r.t. readers of
                # the OLD path is irrelevant since it was never marked)
                stale = target.parent / f".stale-{uuid.uuid4().hex[:12]}"
                try:
                    os.rename(target, stale)
                    shutil.rmtree(stale, ignore_errors=True)
                except OSError:
                    pass
        if not done.exists():
            raise RuntimeError(f"could not publish staged dir {target}")
        return target
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def stage(
    kind: str,
    sf_dir: str,
    table: str,
    build: Callable[[Path], None],
    *key: object,
) -> Path:
    """The stage ``SCRATCH/<kind>/<sf name>_<fp>`` built from
    ``sf_dir``'s ``table`` by ``build(tmp)``, built and published once.
    ``fp`` fingerprints the table's parquet file (resolved path, size,
    mtime_ns) and ``key``, which must name every parameter ``build``
    depends on. A sibling of another fingerprint, unused for
    ``SWEEP_GRACE_S``, is superseded and removed."""
    src = Path(sf_dir) / f"{table}.parquet"
    st = src.stat()
    fp = hashlib.md5(
        "|".join(map(str, (src.resolve(), st.st_size, st.st_mtime_ns, *key))).encode()
    ).hexdigest()[:16]
    prefix = f"{Path(sf_dir).name}_"
    target = stage_atomic(SCRATCH / kind / f"{prefix}{fp}", build)
    os.utime(target)  # its mtime is its last use
    cutoff = time.time() - SWEEP_GRACE_S
    for old in target.parent.glob(f"{prefix}*"):  # equal length: not a longer sf name
        if old != target and len(old.name) == len(target.name):
            try:
                if old.stat().st_mtime < cutoff:
                    shutil.rmtree(old, ignore_errors=True)
            except OSError:
                pass
    return target
