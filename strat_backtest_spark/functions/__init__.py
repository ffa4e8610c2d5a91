from strat_backtest_spark.functions.windows import (  # noqa: F401
    lag,
    pct_change,
    cum_sum,
    cum_prod,
    cum_max,
    forward_fill,
    first_value,
    last_value,
    tail_n,
    trailing_period_filter,
    percent_return,
    log_percent_return,
)
from strat_backtest_spark.functions.text import (  # noqa: F401
    clean_text,
    extract_ticker_tokens,
    whitespace_tokens,
    word_tokens,
)
