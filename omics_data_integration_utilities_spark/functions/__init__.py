from .scalars import (  # noqa: F401
    ppm_window,
    set_decode,
    set_encode,
    concat_key,
    conditional_swap,
    round_signed,
    pearson_corr,
)
