SELECT
  stocks
  , CAST(close AS double) AS close
  , CAST(change AS double) AS change
  , CAST(volume AS bigint) AS volume
  , CAST(market_cap AS double) AS market_cap
  , logo
  , asset_type
  , CAST(event_time AS timestamp) AS event_time
  , loaded_at
FROM view_quotes
QUALIFY ROW_NUMBER() OVER (PARTITION BY stocks ORDER BY event_time DESC) = 1
