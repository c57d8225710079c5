"""The NRT, merge and delete-merge suites again, with every NRT batch and
merge built on Spark (their own modules force the in-process path). Each
suite asserts bit-identical float32 top-k against the same Spark bulk build
and the oracle, so passing under both paths is the parity proof; the direct
cross-path comparisons live in test_build_local.

Tests run in the order they are imported here, which is their order in the
source modules (some build on the state an earlier test left)."""
import pytest

from .test_streaming import (  # noqa: F401
    nrt,
    stream_source,
    test_three_delta_segments,
    test_streamed_equals_batch,
    test_compaction_generation_swap,
    test_late_data_scores_unaffected,
    test_batch_idempotent_on_retry,
    test_tiered_merge_policy,
    test_update_documents_replaces_by_key,
    test_update_documents_retry_is_idempotent,
)
from .test_merge import (  # noqa: F401
    segment_dirs,
    merged_dir,
    test_merged_equals_single,
    test_merged_matches_oracle,
    test_merged_prune_restored_and_safe,
    test_merged_passes_check_index,
    test_merged_docs_view_complete,
    test_merged_term_stats_are_sums,
    test_phrase_parity_after_merge,
    test_phrase_parity_after_delete_merge,
)
from .test_deletes import del_index, test_merge_applies_deletes_with_renumbering  # noqa: F401

pytestmark = pytest.mark.usefixtures("spark_path")
