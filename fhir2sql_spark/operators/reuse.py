"""The one reuse barrier for multi-consumer intermediate frames.

Catalyst expands every DataFrame reference into its full subtree, and
ReuseExchange only collapses *identical* exchange subtrees — a frame
consumed through differently-keyed or differently-projected branches
is re-derived once per branch. For cheap projections that is free;
for a derivation that already paid a shuffle (co-occurrence edge
lists) or an interpreted HOF pass (lattice quantization) it multiplies
the dominant cost by the consumer count (r11 measurements: 19.8 s
executor CPU for q_graph_jaccard's 4-6 edge re-derivations, 21-29 s
per trained-lattice query). Iterative operators (components, kcore,
pagerank) pin each round so their plans stay O(1) deep.

``pin`` is the only barrier queries and operators use, and it has one
policy, ``localCheckpoint(eager=False, storageLevel=DISK_ONLY)``:

- lazy: nothing extra runs at the call. Under AQE the frame's shuffle
  stages still execute while its plan is built; its last stage runs in
  the first job that reads the pin, and the local checkpoint then
  fills any partitions that job skipped, so a ``limit(1).count()``
  probe leaves every partition pinned for later consumers;
- DISK_ONLY: blocks are serialized on disk, never a deserialized heap
  pin, whatever the frame's size (the PLANS.md fact-size discipline);
- never registered in the CacheManager, unlike ``persist``/``cache``:
  a later query with a byte-identical sub-plan cannot silently read
  an earlier run's blocks, so every timed run stays a self-contained
  computation;
- lineage-truncating, and alive as long as the plan that reads it:
  the blocks are released by the ContextCleaner once that plan is
  garbage-collected.

The sync (``sync/pipeline.py``) is the one scoped exception: its two
``cache()`` pins must outlive several actions inside one call and be
released deterministically when the call returns or raises, so they
live in an ``ExitStack`` rather than here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def pin(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
