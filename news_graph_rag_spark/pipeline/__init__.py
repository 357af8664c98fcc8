"""Training-data pipeline operators, reusable on arbitrary DataFrames.

The oracle-checked catalog entries in ``queries.pipeline_queries`` are
instantiations of these operators on the TESTDATA tables.
"""

from .dedup import exact_dedup_keys  # noqa: F401
from .similarity import brute_force_top_k, ivf_build, ivf_search, lsh_bucket_top_k  # noqa: F401
from .text_analysis import language_id, quality_signals, token_counts, fingerprints  # noqa: F401
from .multimodal import decode_images, extract_image_features, sample_video_frames  # noqa: F401
from .bpe import train_bpe, apply_bpe, word_counts  # noqa: F401
