from flexneuart_spark.functions.tokenize import (  # noqa: F401
    code_tokenize,
    code_tokens_col,
    sha256_hex_col,
    whitespace_tokenize,
    whitespace_tokens_col,
)
from flexneuart_spark.functions import distances, textproc  # noqa: F401
