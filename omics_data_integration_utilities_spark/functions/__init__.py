from .scalars import (  # noqa: F401
    set_decode,
    set_encode,
    concat_key,
    conditional_swap,
    pearson_corr,
)
