from pdf_to_text_spark.functions.text import (  # noqa: F401
    charset_clean,
    deep_clean,
    extract_image_tag,
    meaningful_len,
    normalize_extracted,
    strip_outer,
    text_layer_sufficient,
    token_count,
)
