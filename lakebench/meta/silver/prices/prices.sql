SELECT
  symbol
  , CAST(from_unixtime(CAST(exploded.date AS bigint)) AS DATE) AS date
  , CAST(exploded.open AS float) AS open
  , CAST(exploded.high AS float) AS high
  , CAST(exploded.low AS float) AS low
  , CAST(exploded.close AS float) AS close
  , CAST(exploded.volume AS float) AS volume
  , CAST(exploded.adjustedClose AS float) AS adjustedClose
  , CAST(loaded_at AS date) AS loaded_at
FROM bronze.brapi.tickers
LATERAL VIEW explode(historicalDataPrice) AS exploded
QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol, date ORDER BY date DESC) = 1
