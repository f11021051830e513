from .monitor import (  # noqa: F401
    make_subprocess_validator,
    process_directory,
    start_monitor_stream,
    stop_on_signal,
)
from .decontam import (  # noqa: F401
    benchmark_shingles,
    read_clean_docs,
    start_decontamination_stream,
)
from .exactdedup import read_kept_docs, start_exact_dedup_stream  # noqa: F401
from .neardup import read_near_dup_pairs, start_near_dup_stream  # noqa: F401
from .funnel import (  # noqa: F401
    compact_funnel_index,
    last_committed_batch,
    read_funnel_report,
    read_funnel_survivors,
    start_curation_funnel_stream,
)
from .sessions import sessionize_stream  # noqa: F401
