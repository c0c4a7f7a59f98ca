"""Operator surface façade.

The engine's operators are registered as named queries in
``dataworks_audit_data_ingest_spark.queries`` (each a PySpark builder +
ANSI-SQL oracle pair); this package re-exports the registry under the
architecture's ``operators/`` entry point together with the non-query
operator entry points (ingest kernels, streaming operators, multimodal
ops).
"""

from ..ingest.crypto import EnvelopeEncryptor  # noqa: F401
from ..ingest.largefile import encrypt_and_upload_large  # noqa: F401
from ..ingest.pipeline import encrypt_and_upload, run_ingest  # noqa: F401
from ..multimodal.ops import decode_media_batches, resize_media, sample_frames  # noqa: F401
from ..queries import REGISTRY, Query, all_queries  # noqa: F401
from ..streaming.hll_job import (  # noqa: F401
    read_distinct_estimates,
    start_hll_stream,
)
from ..streaming.monitor_job import start_monitor_stream  # noqa: F401
from ..streaming.jobs import (  # noqa: F401
    dedup_events_within_watermark,
    sessionized_events,
    sliding_user_counts,
    tumbling_event_counts,
)
from ..similarity.kmeans import assign_cells, train_cells  # noqa: F401
from ..functions.bloom import (  # noqa: F401
    bloom_might_contain,
    bloom_prefiltered_semi_join,
    build_bloom_bitmap,
)
from ..functions.expectations import (  # noqa: F401
    check_expectations,
    in_range,
    in_set,
    matches,
    not_null,
    satisfies,
    unique,
)
from ..functions.graph import connected_components, pagerank_integer  # noqa: F401
from ..functions.skew import (  # noqa: F401
    key_skew_milli,
    key_skew_report,
    load_skew_milli,
    maybe_salted_join,
    salted_agg,
    salted_join,
)
from ..similarity.knn import knn_join  # noqa: F401
from ..similarity.mmr import knn_mmr, mmr_rerank  # noqa: F401
from ..similarity.pca import fit_pca, transform_pca  # noqa: F401
from ..similarity.opq import encode_opq, opq_knn, train_opq  # noqa: F401
from ..similarity.pq import encode_pq, pq_knn, train_pq  # noqa: F401
from ..similarity.quantize import (  # noqa: F401
    dequantize,
    quantize_int8,
    quantized_knn,
)
from ..sinks.layout import zorder_write  # noqa: F401
from ..sinks.diff import table_diff  # noqa: F401
from ..sinks.scd2 import apply_scd2, as_of  # noqa: F401
from ..sinks.snapshots import SnapshotTable  # noqa: F401
from ..sinks.writers import (  # noqa: F401
    compact_parquet_partition,
    merge_upsert_partitioned,
)
from ..streaming.curation_job import start_curation_stream  # noqa: F401
from ..streaming.snapshot_job import start_snapshot_stream  # noqa: F401
from ..streaming.index_job import (  # noqa: F401
    index_microbatch,
    start_index_stream,
)
from ..streaming.stateful import (  # noqa: F401
    running_user_profiles,
    running_user_profiles_v2,
)
from ..text.bpe import (  # noqa: F401
    tokenize_documents,
    train_bpe,
    word_frequency_table,
)
from ..incremental.store import compact_store  # noqa: F401
from ..text.incremental_dedup import incremental_dedup_batch  # noqa: F401
from ..text.incremental_semantic import incremental_semantic_batch  # noqa: F401
from ..text.pipeline import (  # noqa: F401
    annotate_quality,
    cap_per_source,
    drop_contained_duplicates,
    drop_contaminated,
    drop_near_duplicates,
    drop_semantic_duplicates,
    mix_sources,
    pack_sequences,
    redact_pii,
    token_budget_sample,
)


def by_tag(tag: str) -> dict[str, Query]:
    """Operators filtered by family tag ('join', 'window', 'dedup', ...)."""
    return {n: q for n, q in all_queries().items() if tag in q.tags}
