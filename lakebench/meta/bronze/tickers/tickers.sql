SELECT
  symbol
  , currency
  , CAST(marketCap AS double) AS marketCap
  , shortName
  , longName
  , CAST(regularMarketChange AS double) AS regularMarketChange
  , CAST(regularMarketChangePercent AS double) AS regularMarketChangePercent
  , CAST(regularMarketTime AS timestamp) AS regularMarketTime
  , CAST(regularMarketPrice AS double) AS regularMarketPrice
  , CAST(regularMarketDayHigh AS double) AS regularMarketDayHigh
  , regularMarketDayRange
  , CAST(regularMarketDayLow AS double) AS regularMarketDayLow
  , CAST(regularMarketVolume AS bigint) AS regularMarketVolume
  , CAST(regularMarketPreviousClose AS double) AS regularMarketPreviousClose
  , CAST(regularMarketOpen AS double) AS regularMarketOpen
  , fiftyTwoWeekRange
  , CAST(fiftyTwoWeekLow AS double) AS fiftyTwoWeekLow
  , CAST(fiftyTwoWeekHigh AS double) AS fiftyTwoWeekHigh
  , logourl
  , CAST(priceEarnings AS double) AS priceEarnings
  , CAST(earningsPerShare AS double) AS earningsPerShare
  , historicalDataPrice
  , summaryProfile
  , loaded_at
FROM view_tickers
QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY regularMarketTime DESC) = 1
