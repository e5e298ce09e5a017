from .sources import (  # noqa: F401
    STREAM_EVENT_SCHEMA,
    drop_stale_records,
    kafka_value_projection,
    read_base64_json_event_stream,
    read_event_stream,
    read_json_event_stream,
)
from .dedup import (  # noqa: F401
    compact_banded_index,
    rebucket_banded_index,
    rebucket_cluster_store,
    compact_cluster_store,
    dedup_stream_content,
    dedup_stream_exact,
    read_cluster_labels,
    run_cluster_maintain_stream,
    run_index_dedup_stream,
    run_index_lsh_stream,
    run_index_hamming_stream,
    vacuum_cluster_store,
)
from .forget import (  # noqa: F401
    apply_index_tombstones,
    forget_cluster_store,
    forget_index_keys,
    purge_forgotten,
    read_index_tombstones,
    resolve_text_hashes,
    scrub_batch_outputs,
)
from .join import interval_join  # noqa: F401
from .curate import run_curate_stream  # noqa: F401
from .quality import (  # noqa: F401
    read_lm_model,
    run_contamination_stream,
    run_clf_score_stream,
    run_lm_score_stream,
    write_benchmark_shingles,
    write_lm_model,
)
from .similarity import (  # noqa: F401
    compact_embedding_index,
    heal_centroid_layout,
    recell_embedding_index,
    probe_embedding_index,
    run_index_embedding_stream,
)
from .retrieval import (  # noqa: F401
    bm25_index_stats,
    compact_bm25_stats,
    forget_bm25_index,
    probe_bm25_index,
    run_index_bm25_stream,
)
from .similarity_pq import (  # noqa: F401
    heal_pq_layout,
    pq_index_stats,
    recode_pq_index,
    probe_pq_index,
    run_index_embedding_pq_stream,
)
from .metrics import progress_summary  # noqa: F401
from .substring import (  # noqa: F401
    read_repeated_spans,
    run_index_substring_stream,
)
from .running_totals import (  # noqa: F401
    running_totals,
    running_totals_tws,
    tws_available,
)
from .enrich import start_refreshed_dim_enrich  # noqa: F401
from .sessions import session_window_stats  # noqa: F401
from .sliding_agg import sliding_agg_exact, sliding_agg_windowed  # noqa: F401
from .upsert_sink import start_stream_upsert  # noqa: F401
