"""Source guard: persists and local checkpoints live only in ``session.py``.

Operators materialize frames through ``session.cached`` / ``session.snapshot``
/ ``session.FrameChain``, which own the storage level and the release. A
hand-rolled persist, unpersist or local checkpoint anywhere else in the
library fails this test. The reliable ``checkpoint(eager=True)`` of
``pipeline/corpus.py`` (``_stream_starts(checkpoint=True)``) is not a cache
and stays allowed.
"""

import re
from pathlib import Path

import nested_pandas_spark

FORBIDDEN = re.compile(r"\.persist\(|localCheckpoint\(|unpersist\(|StorageLevel")


def test_cache_calls_only_in_session_module():
    root = Path(nested_pandas_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "\n".join(hits)
