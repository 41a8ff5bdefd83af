"""Re-export the synthetic acquisition generator for tests, plus the
numpy decode of a whole ``.dat`` file that the Spark decode must equal."""

import pandas as pd

from gcf_corima_parquet_converter_spark.sources.dat import frame_packets, sample_times
from gcf_corima_parquet_converter_spark.sources.synthetic import (  # noqa: F401
    SENSOR,
    make_dat_bytes,
    write_acquisition,
)


def decode_reference(path, params):
    """``frame_packets`` + ``sample_times`` over all of the file's bytes,
    as a Time-sorted frame with ``decode_dat``'s columns."""
    with open(path, "rb") as f:
        samples, ts, _leftover = frame_packets(f.read(), params)
    cols = {"Time": sample_times(ts, params, len(samples))}
    cols.update({name: samples[:, i] for i, name in enumerate(params.axis_names)})
    return pd.DataFrame(cols).sort_values("Time").reset_index(drop=True)
