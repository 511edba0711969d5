"""Open-loop load generator for the live phase of ``cdc_ingest``.

Runs as its own process so its schedule does not slow when Spark does.
It takes a directory of file templates (JSON lines whose source timestamp
is the placeholder ``__DUE__``) and, before the schedule starts, stages one
file per template with the placeholder replaced by that file's due time:
``start + i * interval``. During the schedule it only renames staged files
into the source directory, each as soon as its due time has come. When it is
done it writes, as JSON, the due and actual drop time of every file.

    python3 loadgen.py TEMPLATES STAGE SOURCE START_EPOCH_S INTERVAL_S LOG
"""

from __future__ import annotations

import json
import os
import sys
import time

PLACEHOLDER = "__DUE__"


def main(argv: list[str]) -> int:
    templates, stage, source, start_s, interval_s, log_path = argv
    start, interval = float(start_s), float(interval_s)
    names = sorted(os.listdir(templates))
    os.makedirs(stage, exist_ok=True)
    due_ms = []
    for i, name in enumerate(names):
        due = round((start + i * interval) * 1000)
        with open(os.path.join(templates, name)) as f:
            body = f.read().replace(PLACEHOLDER, str(due))
        with open(os.path.join(stage, name), "w") as f:
            f.write(body)
        due_ms.append(due)
    files = []
    for name, due in zip(names, due_ms):
        wait = due / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(stage, name), os.path.join(source, name))
        files.append({"file": name, "due_ms": due, "dropped_ms": time.time() * 1000})
    with open(log_path, "w") as f:
        json.dump(files, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
