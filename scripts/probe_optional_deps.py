#!/usr/bin/env python3
"""Round-start probe for the optional libraries that gate the
"partial" operators: the Delta scan/sink (S4/S7) and the multimodal
image/video decode paths. If the image ever gains one of these, the
matching conditional tests light up automatically — this script just
reports which real paths are live so a round doesn't miss the upgrade.

Usage: python scripts/probe_optional_deps.py
"""

from __future__ import annotations

import importlib.util

PROBES = {
    "delta": "delta-spark jars (r8: the NATIVE _delta_log reader/writer in sources/deltalog.py is the live path; jars would add advanced protocol features - deletion vectors, column mapping)",
    "PIL": "real image decode (operators/multimodal.py)",
    "cv2": "real video decode (operators/multimodal.py)",
}


def main() -> int:
    any_live = False
    for mod, what in PROBES.items():
        found = importlib.util.find_spec(mod) is not None
        status = "AVAILABLE" if found else "absent"
        any_live |= found
        print(f"{mod:<12} {status:<10} {what}")
    if any_live:
        print(
            "\nReal paths available: run `pytest tests/ -q` — the "
            "conditional tests for the modules above are no longer "
            "skipped, and the fallbacks hand over automatically."
        )
    else:
        print(
            "\nAll optional libraries absent (expected in this image): "
            "parquet/stub fallbacks stay active; nothing to do."
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
