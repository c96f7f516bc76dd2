  WITH lending_assets_1 AS (
    SELECT i AS ilk, block_number, dart, CAST(NULL AS DECIMAL(38,0)) AS rate
    FROM vat_call_frob WHERE dart <> 0
    UNION ALL
    SELECT i, block_number, dart, CAST(0 AS DECIMAL(38,0)) FROM vat_call_grab
    WHERE dart <> 0
    UNION ALL
    SELECT i, block_number, CAST(NULL AS DECIMAL(38,0)), rate FROM vat_call_fold
    WHERE rate <> 0
  ),
  ilks AS (
    SELECT ilk, MIN(block_number) AS starting_use, MAX(block_number) AS end_use
    FROM lending_assets_1 GROUP BY ilk
  ),
  ilks_2 AS (
    SELECT ilk, starting_use, MAX(end_use) OVER () AS end_use FROM ilks
  ),
  noop_filling AS (
    SELECT ilk, d AS block_number, CAST(NULL AS DECIMAL(38,0)) AS dart,
           CAST(NULL AS DECIMAL(38,0)) AS rate, CAST(NULL AS DOUBLE) AS sf
    FROM ilks_2
    LATERAL VIEW explode(sequence(starting_use, end_use, 1000)) g AS d
  ),
  rates AS (
    SELECT block_number, ilk,
      ROUND(POWER(CAST(data AS DOUBLE)/1e27, 31536000), 9) - 1 AS sf
    FROM jug_call_file
  ),
  with_filling AS (
    SELECT ilk, block_number, dart, rate, CAST(NULL AS DOUBLE) AS sf
    FROM lending_assets_1
    UNION ALL
    SELECT ilk, block_number, dart, rate, sf FROM noop_filling
    UNION ALL
    SELECT ilk, block_number, CAST(NULL AS DECIMAL(38,0)),
           CAST(NULL AS DECIMAL(38,0)), sf
    FROM rates
  ),
  lending_assets_2 AS (
    SELECT ilk, block_number,
      COALESCE(1 + CAST(SUM(rate) OVER w AS DOUBLE)/1e27, 1) AS rate,
      CAST(SUM(dart) OVER w AS DOUBLE)/1e18 AS dart,
      SUM(CASE WHEN sf IS NOT NULL THEN 1 ELSE 0 END) OVER w AS sf_grp,
      sf
    FROM with_filling
    WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)
  ),
  with_rk AS (
    SELECT CAST(block_number div 10000 AS INT) AS dt,
      bytes32_to_ascii(ilk) AS collateral,
      dart*rate AS debt,
      MAX(sf) OVER (PARTITION BY ilk, sf_grp) AS sf,
      ROW_NUMBER() OVER (PARTITION BY ilk, block_number div 10000
                         ORDER BY block_number DESC) AS rk
    FROM lending_assets_2
  ),
  group_by AS (
    SELECT dt, collateral, debt, sf, debt*sf AS annual_revenues
    FROM with_rk WHERE rk = 1 AND debt <> 0.0
  ),
  group_by_cat AS (
    SELECT dt,
      CASE WHEN collateral LIKE 'PSM%' THEN 'Stablecoins'
           WHEN collateral IN ('USDC-A','USDC-B','USDT-A','TUSD-A','GUSD-A','PAXUSD-A') THEN 'Stablecoins'
           WHEN collateral LIKE 'ETH-%' THEN 'ETH'
           WHEN collateral LIKE 'WBTC-%' THEN 'WBTC'
           WHEN collateral LIKE 'UNIV2%' THEN 'Liquidity Pools'
           WHEN collateral LIKE 'RWA%' THEN 'RWA'
           ELSE 'Others' END AS collateral,
      debt AS asset, annual_revenues
    FROM group_by
  )
  SELECT dt, collateral,
    CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS asset,
    CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE) AS annual_revenues,
    CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE)
      / CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS blended_rate
  FROM group_by_cat
  GROUP BY 1, 2
  ORDER BY 1 DESC, 2
