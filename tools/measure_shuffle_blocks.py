#!/usr/bin/env python
"""tools/measure_shuffle.py at k=41 by default, where the packed codec
is long-block ``array<long>`` ids (operators/counter_blocks.py): wall
clock + shuffle bytes of the string vs packed assembly pipeline, same
UI-REST delta protocol, best-of-2 alternating runs.

Usage: python tools/measure_shuffle_blocks.py [sf_dir] [k]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.measure_shuffle import main  # noqa: E402

if __name__ == "__main__":
    main(int(sys.argv[2]) if len(sys.argv) > 2 else 41)
