"""dist/entity_extractor_spark.zip freshness gate: the committed
spark-submit --py-files bundle must carry exactly the package's .py files,
byte for byte. Rebuild it with `python tools/package.py`."""

import os
import zipfile
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "entity_extractor_spark"


def test_dist_zip_is_fresh():
    tree = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                tree[os.path.relpath(full, REPO).replace(os.sep, "/")] = full
    with zipfile.ZipFile(os.path.join(REPO, "dist", f"{PKG}.zip")) as zf:
        members = {n for n in zf.namelist() if n.endswith(".py")}
        stale = sorted(
            n for n in members & set(tree)
            if zf.read(n) != Path(tree[n]).read_bytes()
        )
    missing, extra = sorted(set(tree) - members), sorted(members - set(tree))
    assert not (missing or extra or stale), (
        "dist zip is stale — run `python tools/package.py`\n"
        f"missing={missing} extra={extra} stale={stale}"
    )
