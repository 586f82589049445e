"""Build the ``--py-files`` bundle for cluster deploys (BASELINE.json
north_rule deploy mode):

    python tools/make_pyfiles.py [dist/textextract_spark.zip]
    spark-submit --master <url> --conf spark.checkpoint.dir=<shared dir> \
        --py-files dist/textextract_spark.zip driver.py --pages ... --out ...

where driver.py is ``from textextract_spark.__main__ import main; main()``
(the driver and the executors resolve every ``textextract_spark.*``
import from the zip — the package is pure Python, so zipimport serves
it directly; tests/test_cluster.py runs the bundle on local-cluster
masters). The master spark-submit sets stands; ``spark.checkpoint.dir``
must be reachable from the driver and every executor, because
``session.materialize`` checkpoints there under any non-local master.
The local-only settings (tmpfs scratch, shuffle compression off, 12g
driver heap) apply only outside spark-submit.

The archive is DETERMINISTIC (sorted walk, fixed timestamps, .py only):
rebuilding from the same tree is byte-identical, so cluster deploys can
content-address the bundle and executors' file-server caches stay warm
across identical submissions.
"""

from __future__ import annotations

import os
import sys
import zipfile

_FIXED_TS = (2020, 1, 1, 0, 0, 0)


def build(out_path: str) -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "textextract_spark")
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, files in sorted(os.walk(pkg)):
            dirnames.sort()
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                arc = os.path.relpath(full, root)
                zi = zipfile.ZipInfo(arc, date_time=_FIXED_TS)
                zi.compress_type = zipfile.ZIP_DEFLATED
                zi.external_attr = 0o644 << 16
                with open(full, "rb") as fh:
                    z.writestr(zi, fh.read())
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "dist/textextract_spark.zip"
    path = build(out)
    size = os.path.getsize(path)
    print(f"{path} ({size} bytes)")
    print("spark-submit --master <url> "
          "--conf spark.checkpoint.dir=<shared dir> "
          f"--py-files {path} driver.py --pages <input> --out <table>")
