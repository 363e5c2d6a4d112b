from .joins import (  # noqa: F401
    band_join,
    band_join_broadcast,
    adduct_expand,
    bipartite_event_join,
)
from .filters import (  # noqa: F401
    threshold_filter,
    remove_zeros,
    group_mad,
    outlier_flags,
    nonzero_transition_filter,
)
from .windows import (  # noqa: F401
    rank_in_group,
    top_k_per_group,
    arg_extreme_dedup,
    mutual_rank,
)
from .aggregates import (  # noqa: F401
    group_count,
    na_fraction,
    pairwise_corr,
    corr_pvalues,
    correlate_long_matrices,
)
from .dedup import (  # noqa: F401
    exact_dedup,
    minhash_signatures,
    lsh_band_keys,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    hot_posting_keys,
    simhash_table,
)
from .text import lang_id, quality_score, doc_fingerprint  # noqa: F401
from .similarity import (  # noqa: F401
    ann_index_topk,
    attach_ann_index,
    extend_ann_index,
    brute_force_topk,
    brute_force_topk_np,
    build_ann_index,
    cosine_neardup_pairs,
    cosine_neardup_np,
    ivf_assign,
    ivf_topk,
    lsh_bucketed_neardup,
)
from .containment import containment_pairs, containment_map  # noqa: F401
from .skew import salted_join, salted_group_count, skew_aware_join  # noqa: F401
from .sampling import (  # noqa: F401
    hash_split,
    leakage_safe_split,
    stratified_hash_sample,
    weighted_sample,
)
from .sketches import frequent_items  # noqa: F401
from .profile import (  # noqa: F401
    estimate_profile,
    merge_profile_sketches,
    profile_numeric,
    profile_sketches,
    profile_table,
)
