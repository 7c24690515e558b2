"""Composite operators Spark lacks natively (SURVEY.md §2, §7.4).

Each is a DataFrame-level composition or an Arrow-batched pandas-UDF plan —
never a driver-side loop — so it distributes at 100 TB:

    asof.py         as-of join (backward + nearest-direction) via union +
                    last-value window, no UDF
    bloom.py        Bloom-filter semi-join pruning
    clustering.py   Lloyd k-means (broadcast centroids)
    dedup.py        exact dedup, SimHash, and the two near-dup pair cores:
                    shared-shingle overlap (n-gram Jaccard / containment /
                    integer-ppm projections) and MinHash-LSH with exact
                    verify
    enumerate.py    global row enumeration without a single-partition window
    graph.py        connected components (large-star/small-star), PageRank,
                    component attachment
    multimodal.py   binary media columns + Arrow decode/feature plumbing
    similarity.py   brute-force cosine top-k / threshold pairs (broadcast B,
                    stream A) with LSH/IVF scale paths
    skew.py         salted-join skew handling

The headline entry points re-export here so a user can reach the whole
custom-operator surface from one import.
"""

from .asof import asof_join, asof_join_nearest  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    shared_shingle_pairs,
    simhash,
)
from .graph import (  # noqa: F401
    attach_components,
    bfs_levels,
    connected_components,
    pagerank,
)
from .similarity import (  # noqa: F401
    cosine_threshold_pairs,
    cosine_topk_queries,
)
